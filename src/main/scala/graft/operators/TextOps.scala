package graft.operators

import graft.functions.TextKernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Pins.PinnedDataset

/** Per-document text scoring — the map-side passes of a training-data
  * pipeline (language ID, quality features, token counting, content
  * fingerprints). All embarrassingly parallel scans; the only shuffles
  * are dimension-sized broadcast joins and output-sized aggregations.
  */
object TextOps {

  /** Marker-token-voting language ID: explode tokens, broadcast-join a
    * (token -> language) lexicon, argmax votes per document (ties break
    * language-ascending). Returns (id, pred_lang, votes); documents with
    * zero lexicon hits are absent (no evidence, no guess).
    */
  def langId(df: DataFrame, idCol: String, textCol: String,
      lexicon: Seq[(String, String)]): DataFrame = {
    val lex = df.sparkSession.createDataFrame(lexicon).toDF("w", "cand_lang")
    val votes = df
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))
      .join(broadcast(lex), Seq("w"))
      .groupBy(col("id"), col("cand_lang")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("votes").desc, col("cand_lang").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id"), col("cand_lang").as("pred_lang"), col("votes"))
  }

  /** Quality features: word/char counts, mean word length, stopword and
    * type-token ratios, plus an `is_quality` flag from the supplied
    * thresholds. Pure projection — no shuffle.
    */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], minChars: Int = 100, minWords: Int = 20,
      minTypeToken: Double = 0.3): DataFrame = {
    val ws = split(col(textCol), " ")
    val stopArr = array(stopwords.map(lit): _*)
    val nChars = length(col(textCol))
    val nWords = size(ws)
    val nStop = size(filter(ws, w => array_contains(stopArr, w)))
    val nDistinct = size(array_distinct(ws))
    df.select(
      col(idCol).as("id"),
      nChars.cast("long").as("n_chars"),
      nWords.cast("long").as("n_words"),
      ((nChars - (nWords - lit(1))).cast("double") / nWords)
        .as("mean_word_len"),
      (nStop.cast("double") / nWords).as("stopword_ratio"),
      (nDistinct.cast("double") / nWords).as("type_token_ratio"),
      (nChars >= minChars && nWords >= lit(minWords) &&
        (nDistinct.cast("double") / nWords) > minTypeToken).as("is_quality"))
  }

  /** Token counts: whitespace tokens, BPE-ish regex segments (letter
    * runs / digit runs / single other chars), chars/4 LLM estimate. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      size(split(col(textCol), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("re_tokens"),
      floor(length(col(textCol)) / 4).cast("long").as("est_llm_tokens"))

  /** CCNet-style unigram-LM perplexity filter: score each row by its
    * average negative log-likelihood under a unigram LM trained on the
    * corpus itself (p(w) = count(w)/total), keep the low-perplexity
    * head (`avg_nll <= cutoff`). Per-word NLLs are quantized to
    * DECIMAL(12,6) once per vocab entry and summed exactly, so scores
    * are reproducible across engines and partitionings. The LM is a
    * map-side-combinable word-count aggregate (|vocab| rows); the
    * corpus total comes from the SAME one-row scalar aggregate that
    * measures the vocab (never an unpartitioned window, which funnels
    * every vocab row through one task), and the scoring join broadcasts
    * the vocab only under a measured size gate — an open 100 TB vocab
    * falls back to a plain equi-join on `w` (same rows, shuffle-hash
    * plan) instead of OOMing the driver. Semantics pinned by the
    * oracle-checked t11 query. Returns (id, n_words, avg_nll, keep).
    */
  /** Broadcast a |vocab|-row scoring table only under a measured size
    * gate (conservative estimate: 96 bytes row overhead + UTF-16 word
    * chars per entry); above the gate return it unhinted so the scoring
    * join runs as a plain shuffle on `w` — same rows either way, never
    * a driver OOM. Shared by every vocab-join operator
    * ([[perplexityScore]], [[tfidfTopTerms]], [[bpeSegment]]).
    */
  private def gateBroadcast(vocab: DataFrame, rows: Long, chars: Long,
      maxBytes: Long): DataFrame =
    if (rows * 96L + chars * 2L <= maxBytes) broadcast(vocab) else vocab

  def perplexityScore(df: DataFrame, idCol: String, textCol: String,
      cutoff: Double = 3.402,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("w"))
    // pinned: measured once, then both the nll projection and the
    // scoring join read the materialized counts
    val counts = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .pin()
    val m = counts.agg(count(lit(1)).as("n"),
      coalesce(sum(length(col("w"))), lit(0L)).as("chars"),
      coalesce(sum(col("c")), lit(0L)).as("t")).head()
    val (vocabN, vocabChars, total) =
      (m.getLong(0), m.getLong(1), m.getLong(2))
    val vocab = counts.select(col("w"),
      (-log(col("c").cast("double") / lit(total)))
        .cast(DecimalType(12, 6)).as("nll"))
    val vv = gateBroadcast(vocab, vocabN, vocabChars, maxBroadcastBytes)
    words.join(vv, Seq("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nll")).as("s"))
      .select(col("id"), col("n_words"),
        (col("s").cast("double") / col("n_words")).as("avg_nll"),
        ((col("s").cast("double") / col("n_words")) <= cutoff).as("keep"))
  }

  /** Interpolated bigram-LM perplexity (the n-gram upgrade of
    * [[perplexityScore]]): each document scored by its average NLL
    * under p(b|a) = 0.7 * c(a,b)/c1(a) + 0.3 * c(b)/T, where c1(a) is
    * a's count as a bigram left context; the first token scores
    * unigram-only. Like t11, every NLL is quantized to DECIMAL(12,6)
    * ONCE per (bigram | vocab) entry so a last-ulp ln() divergence
    * between engines cannot move a score, and per-doc sums are exact
    * decimal adds. Returns (id, n_words, avg_nll, keep).
    *
    * Scale shape: three map-side-combinable count aggregates (unigram,
    * bigram, left-context), two gated scoring joins (bigram stream on
    * the |bigram-vocab| table; first tokens on the |vocab| table), one
    * per-id re-aggregate. Nothing is ever quadratic; the LM tables are
    * the only broadcast candidates.
    */
  def bigramPerplexityScore(df: DataFrame, idCol: String, textCol: String,
      cutoff: Double = 3.402, lambda: Double = 0.7,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) > 0)
    val words = toks.select(col("id"), explode(col("ws")).as("w"))
    val uni = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .pin()
    // one measured pass over each checkpointed count table: total
    // tokens + the uni gate's size, then the bi gate's size — no
    // per-NLL-table extra jobs (t11's single-`m` pattern)
    val mUni = uni.agg(coalesce(sum(col("c")), lit(0L)),
      count(lit(1)), coalesce(sum(length(col("w"))), lit(0L))).head()
    val total = mUni.getLong(0)
    val bigrams = toks.select(col("id"), explode(
      zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
    val bi = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("cab"))
      .pin()
    val mBi = bi.agg(count(lit(1)),
      coalesce(sum(length(col("bg"))), lit(0L))).head()
    val ctx = bi.select(split(col("bg"), " ").getItem(0).as("w"),
        col("cab"))
      .groupBy(col("w")).agg(sum(col("cab")).as("c1"))
    // NLL per bigram entry: quantized once, exact thereafter. The
    // interpolation coefficients must PARSE identically in both
    // engines: the oracle spells (1.0 - lambda-literal), matching this
    // computed double exactly — a 0.3 literal differs from (1.0 - 0.7)
    // by one ulp BEFORE quantization, the divergence class the decimal
    // cast exists to kill.
    val biNll = bi
      .select(col("bg"), split(col("bg"), " ").getItem(0).as("a"),
        split(col("bg"), " ").getItem(1).as("b"), col("cab"))
      .join(ctx.withColumnRenamed("w", "a"), Seq("a"))
      .join(uni.withColumnRenamed("w", "b"), Seq("b"))
      .select(col("bg"),
        (-log(lit(lambda) * (col("cab").cast("double") / col("c1")) +
          lit(1.0 - lambda) * (col("c").cast("double") / lit(total))))
          .cast(DecimalType(12, 6)).as("nll"))
    val uniNll = uni.select(col("w"),
      (-log(col("c").cast("double") / lit(total)))
        .cast(DecimalType(12, 6)).as("nll"))
    val vb = gateBroadcast(biNll, mBi.getLong(0), mBi.getLong(1),
      maxBroadcastBytes)
    val vu = gateBroadcast(uniNll, mUni.getLong(1), mUni.getLong(2),
      maxBroadcastBytes)
    val biScores = bigrams.join(vb, Seq("bg"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("nb"), sum(col("nll")).as("sb"))
    val firstScores = toks
      .select(col("id"), element_at(col("ws"), 1).as("w"))
      .join(vu, Seq("w"))
      .select(col("id"), col("nll").as("s1"))
    firstScores.join(biScores, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("nb"), lit(0L)) + lit(1L)).as("n_words"),
        ((col("s1") + coalesce(col("sb"),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(22, 6))))
          .cast("double") /
          (coalesce(col("nb"), lit(0L)) + lit(1L))).as("avg_nll"))
      .withColumn("keep", col("avg_nll") <= cutoff)
  }

  /** Corpus vocabulary: top-k tokens by frequency (map-side partial agg
    * + TakeOrdered; never a full sort). Returns (w, cnt). */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(k)

  /** Corpus-duplicate shingle ratio (the Gopher/C4 dedup-quality
    * signal): for each document, the fraction of its distinct word
    * k-gram shingles that occur in at least one OTHER document, plus a
    * keep flag (ratio <= maxDupRatio). Returns
    * (id, n_shingles, dup_shingles, dup_ratio, keep).
    *
    * Two bucketed shuffles: shingle-df count (map-side combinable, on
    * the uniform shingle key) and the per-doc re-aggregate (on id) —
    * scores every document against the whole corpus without any
    * pairwise join.
    */
  def dupShingleRatio(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, maxDupRatio: Double = 0.5,
      partitions: Int = 0): DataFrame = {
    val docs = DedupOps.staged(df, idCol, textCol, partitions)
    val shArr = TextKernels.shingleArrays(df.sparkSession, docs, k)
      .pin()
    val sh = shArr.select(col("doc_id"), explode(col("shs")).as("sh"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("dup_shingles"))
      .select(col("doc_id").as("id"), col("n_shingles"),
        col("dup_shingles"),
        (col("dup_shingles").cast("double") / col("n_shingles"))
          .as("dup_ratio"))
      .withColumn("keep", col("dup_ratio") <= maxDupRatio)
  }

  /** Per-document lexical-diversity profile — the vocabulary-collapse
    * quality signals (templated/degenerate text shows a low type-token
    * ratio and a hapax-poor vocabulary; natural prose is hapax-rich):
    * token count, type count (distinct words), type-token ratio, hapax
    * count (words occurring exactly once IN the document) and
    * hapax/type ratio. Exact integer arithmetic until the two final
    * double divisions, so the scores are engine-reproducible. One
    * id-keyed shuffle (the per-(id, word) counts pre-combine map-side);
    * no joins — scales as a pure scan. Semantics pinned by the
    * oracle-checked t17 query.
    * Returns (id, n_tokens, n_types, ttr, n_hapax, hapax_ratio).
    */
  def lexicalDiversity(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("id"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_types")).as("hapax_ratio"))

  /** Span-level exact-substring dedup (the ExactSubstr idea at fixed
    * gram length): every word position whose k-gram occurs >= minCount
    * times anywhere in the corpus marks its [pos, pos+k) span
    * duplicated; overlapping spans merge (gaps-and-islands) and each
    * row reports merged-span count, covered words, and coverage ratio
    * — the per-document removal plan of a substring-dedup pass.
    * Positional grams come from the compiled kernel; the join back is
    * position-table-sized (a gram's frequency never multiplies rows);
    * islands window per doc. Rows with no duplicated grams report
    * (0, 0, 0.0). Semantics pinned by the oracle-checked d09 query.
    * Returns (id, n_words, n_dup_spans, dup_words, dup_ratio).
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10, minCount: Int = 2, partitions: Int = 0): DataFrame = {
    require(k >= 1 && minCount >= 2, s"duplicateSpans: k=$k minCount=$minCount")
    val docs = DedupOps.staged(df, idCol, textCol, partitions)
    val base = docs.select(col("doc_id").as("id"),
      size(split(col("text"), " ")).cast("long").as("n_words"))
    val perDoc = mergedDupSpans(docs, k, minCount)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e0") - col("s0")).as("dup_words"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_words"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        (coalesce(col("dup_words"), lit(0L)).cast("double") /
          col("n_words")).as("dup_ratio"))
  }

  /** The merged duplicate-span table (id, s0, e0) shared by
    * [[duplicateSpans]] (which REPORTS it) and [[removeDuplicateSpans]]
    * (which EXECUTES it) — one spelling, so the removal can never
    * drift from the plan the report prices. `docs` is a staged
    * (doc_id, text) frame.
    */
  private def mergedDupSpans(docs: DataFrame, k: Int,
      minCount: Int): DataFrame = {
    val grams = TextKernels.positionalGrams(docs.sparkSession, docs, k)
      .pin()
    val dupg = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("g"))
    val dup = grams.join(dupg, Seq("g"))
      .select(col("doc_id").as("id"), col("pos").cast("long").as("pos"),
        (col("pos") + k).cast("long").as("e"))
    val wPrev = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dup
      .withColumn("pmax", max(col("e")).over(wPrev))
      .withColumn("ni",
        when(col("pmax").isNull || col("pos") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(wRun))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).as("s0"), max(col("e")).as("e0"))
      .select(col("id"), col("s0"), col("e0"))
  }

  /** EXECUTE the [[duplicateSpans]] removal plan: rewrite every
    * document with its merged duplicate spans deleted. d09 prices the
    * plan (n_dup_spans / dup_words per doc); this operator acts on it
    * with the SAME span table, so `n_words_after` equals d09's
    * `n_words - dup_words` exactly (DedupOpsSpec pins the identity
    * and the oracle-checked d15 query pins the rewritten text). The
    * cleaned text is reported as md5 so the result stays skinny.
    *
    * Semantics: ALL marked occurrences are removed — the aggressive
    * arm of substring dedup (both copies of a duplicated run are
    * inside spans). Keep-one-copy needs an occurrence-ranking pass
    * over the gram table (the d07 canonical-selection analog at span
    * granularity) and belongs to the plan's consumer.
    *
    * Scale shape: one positional-gram kernel pass, the df-cut-style
    * duplicated-gram join, per-doc windows for span merge, then ONE
    * id-keyed join of the word table against the (small, span-count-
    * sized) span table with a range predicate — never a pairwise or
    * gram-frequency-dependent join; the rebuild aggregation sorts
    * doc-sized word lists. Returns (id, n_words, n_words_after,
    * clean_md5).
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String,
      textCol: String, k: Int = 10, minCount: Int = 2,
      partitions: Int = 0): DataFrame = {
    require(k >= 1 && minCount >= 2,
      s"removeDuplicateSpans: k=$k minCount=$minCount")
    val docs = DedupOps.staged(df, idCol, textCol, partitions)
    val spans = mergedDupSpans(docs, k, minCount)
      .select(col("id").as("sid"), col("s0"), col("e0"))
    val words = docs.select(col("doc_id").as("id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("w"))
    val kept = words.join(spans,
      col("id") === col("sid") &&
        col("pos") >= col("s0") && col("pos") < col("e0"),
      "left_anti")
    val rebuilt = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_words_after"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("clean_text"))
    docs.select(col("doc_id").as("id"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_words"),
        coalesce(col("n_words_after"), lit(0L)).as("n_words_after"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"))
  }

  /** Intra-document repetition (the Gopher boilerplate/spam filter):
    * top word-k-gram share and duplicate-word ratio per document, with
    * a keep flag under the supplied maxima. Documents shorter than k
    * words score their whole text as one gram, so every document is
    * covered. Per-doc map-then-narrow-agg passes keyed on the id — the
    * shuffles carry one row per (doc, gram) partial and one skinny row
    * per doc; nothing is pairwise. Semantics pinned by the
    * oracle-checked t09 query. Returns (id, n_words, dup_words,
    * top_gram_c, n_grams, top_gram_ratio, dup_word_ratio, keep).
    */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, maxTopGramRatio: Double = 1.0 / 32,
      maxDupWordRatio: Double = 0.5): DataFrame = {
    require(k >= 1, s"gram size must be >= 1, got $k")
    val base = df.select(col(idCol).as("id"),
      split(col(textCol), " ").as("ws"))
    val parts = (1 to k)
      .map(i => s"element_at(ws, i + $i)").mkString(", ")
    val grams = base.select(col("id"), explode(
      when(size(col("ws")) >= k, expr(
        s"transform(sequence(0, size(ws) - $k), i -> concat_ws(' ', $parts))"))
        .otherwise(array(array_join(col("ws"), " ")))).as("g"))
    val rep = grams.groupBy(col("id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(max(col("c")).as("top_gram_c"), sum(col("c")).as("n_grams"))
    base.select(col("id"),
        size(col("ws")).cast("long").as("n_words"),
        (size(col("ws")) - size(array_distinct(col("ws")))).cast("long")
          .as("dup_words"))
      .join(rep, Seq("id"))
      .select(col("id"), col("n_words"), col("dup_words"),
        col("top_gram_c"), col("n_grams"),
        (col("top_gram_c").cast("double") / col("n_grams"))
          .as("top_gram_ratio"),
        (col("dup_words").cast("double") / col("n_words"))
          .as("dup_word_ratio"))
      .withColumn("keep", col("top_gram_ratio") <= maxTopGramRatio &&
        col("dup_word_ratio") <= maxDupWordRatio)
  }

  /** PII scrub: count and mask emails, phone numbers (NANP 555-prefix
    * form) and IPv4 addresses in a text column. Patterns stay in the
    * dialect-neutral regex subset (char classes + bounded repetition, no
    * lookaround/backrefs) so the behavior is identical under Java regex
    * and RE2-based engines; masking order is email → phone → IP.
    * Pure map-side row-at-a-time work — zero shuffles, linear at any
    * corpus size. Semantics pinned by the oracle-checked t10 query.
    * Returns (id, n_emails, n_phones, n_ips, redacted).
    */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "555-[0-9]{4}"
    val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    df.select(col(idCol).as("id"), col(textCol).as("t"))
      .select(col("id"),
        size(regexp_extract_all(col("t"), lit(emailPat), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(phonePat), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("t"), lit(ipPat), lit(0)))
          .cast("long").as("n_ips"),
        regexp_replace(regexp_replace(
          regexp_replace(col("t"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>"), ipPat, "<IP>").as("redacted"))
  }

  /** The composite quality GATE — the single keep/drop decision a
    * corpus pipeline actually executes, composing the library's four
    * established per-document signals: structural quality
    * ([[qualityFeatures]]' is_quality), corpus-duplicate shingle share
    * ([[dupShingleRatio]]), intra-document repetition
    * ([[repetitionScore]]), and unigram-LM perplexity
    * ([[perplexityScore]]). A document survives only if every
    * component keeps it. The corpus is STAGED ONCE (ids cast to long —
    * the dedup layer's id convention — null-text rows dropped per the
    * TextKernels contract, rows pinned) so all four component scans see
    * the identical row set even for a non-deterministic source; the
    * gate then adds three skinny per-id joins (one row per doc each
    * side). Cost is honest: four per-doc tokenization passes over the
    * pinned corpus plus the joins. Semantics pinned by the
    * oracle-checked t12 query. Returns
    * (id, is_quality, dup_keep, rep_keep, ppl_keep, keep).
    */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
      minChars: Int = 100, minWords: Int = 20, minTypeToken: Double = 0.3,
      shingleK: Int = 8, maxDupRatio: Double = 0.5,
      repK: Int = 3, maxTopGramRatio: Double = 1.0 / 32,
      maxDupWordRatio: Double = 0.5, pplCutoff: Double = 3.402,
      partitions: Int = 0): DataFrame = {
    val corpus = DedupOps.staged(
      df.filter(col(textCol).isNotNull), idCol, textCol, partitions)
    // the stopword list only feeds the (unused here) stopword_ratio
    // column; one entry keeps the empty-array expression well-typed
    val q = qualityFeatures(corpus, "doc_id", "text", Seq("the"),
        minChars, minWords, minTypeToken)
      .select(col("id"), col("is_quality"))
    val dups = dupShingleRatio(corpus, "doc_id", "text", shingleK,
        maxDupRatio, partitions)
      .select(col("id"), col("keep").as("dup_keep"))
    val rep = repetitionScore(corpus, "doc_id", "text", repK,
        maxTopGramRatio, maxDupWordRatio)
      .select(col("id"), col("keep").as("rep_keep"))
    val ppl = perplexityScore(corpus, "doc_id", "text", pplCutoff)
      .select(col("id"), col("keep").as("ppl_keep"))
    q.join(dups, Seq("id")).join(rep, Seq("id")).join(ppl, Seq("id"))
      .withColumn("keep", col("is_quality") && col("dup_keep") &&
        col("rep_keep") && col("ppl_keep"))
  }

  /** Content fingerprints: exact md5 + winnowing-style min-shingle hash
    * (stable under small edits), via the compiled kernel pass. Returns
    * (id, fp_exact, fp_winnow).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 8, partitions: Int = 0): DataFrame = {
    val docs = DedupOps.staged(df, idCol, textCol, partitions)
    val fp = TextKernels.winnowFingerprints(df.sparkSession, docs, shingleK)
    docs.select(col("doc_id").as("id"), md5(col("text")).as("fp_exact"))
      .join(fp.withColumnRenamed("doc_id", "id"), Seq("id"))
      .select(col("id"), col("fp_exact"), col("fp_winnow"))
  }

  /** Per-document TF-IDF keyword extraction: the top-`k` terms of each
    * document ranked by `tf * ln(N/df)` (raw in-document term count
    * times inverse document frequency). Returns
    * (id, term, tf, df, score, rank), rank <= k, ties broken
    * term-ascending.
    *
    * Engine-portable scoring: each vocab entry's idf is quantized to
    * DECIMAL(18,12) ONCE (so a last-ulp ln() divergence between engines
    * cannot flip a ranking), and `tf * idf` is then an exact integer x
    * decimal product — identical in any engine, like t11's NLL
    * quantization. tf is the raw count, not count/doc_len: within one
    * document the ranking is identical (the length divisor is constant
    * per doc) and the score stays exact.
    *
    * Scale shape: one map-side-combinable (id, term) count shuffle, a
    * |vocab|-row df aggregate off it, a scoring join on `term`
    * (broadcast under the same measured gate as [[perplexityScore]];
    * an open 100 TB vocab falls back to a shuffle join — same rows),
    * and a k-bounded rank window on id. Nothing is ever all-pairs and
    * no stage holds more than the exploded token stream.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val nDocs = df.count()
    val tf = df
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0) // ragged spacing yields "" tokens —
                                    // never a keyword candidate
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
      .pin() // pinned: df-count and scoring join both read it
    // tf has one row per distinct (doc, term), so count(*) per term = df
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val m = dfreq.agg(count(lit(1)).as("n"),
      coalesce(sum(length(col("w"))), lit(0L)).as("chars")).head()
    val idf = dfreq.select(col("w"), col("df"),
      log(lit(nDocs.toDouble) / col("df"))
        .cast(DecimalType(18, 12)).as("idf"))
    val vv = gateBroadcast(idf, m.getLong(0), m.getLong(1),
      maxBroadcastBytes)
    // tf as DECIMAL(19,0) — every bigint count fits — so the product is
    // decimal(38,12): exact in Spark (p1+p2+1 = 38, no scale truncation)
    // AND DuckDB (width 37); a raw bigint tf would make Spark widen past
    // precision 38 and silently truncate the scale, and the previous
    // DECIMAL(10,0) overflowed to null past tf = 1e10
    val scored = tf.join(vv, Seq("w"))
      .select(col("id"), col("w").as("term"), col("tf"), col("df"),
        (col("tf").cast(DecimalType(19, 0)) * col("idf"))
          .cast("double").as("score"))
    val win = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
  }

  /** Byte-pair-encoding merge learning over the corpus — the tokenizer
    * training kernel. Runs `merges` Lloyd-style rounds: count adjacent
    * symbol pairs across the (word, freq)-compressed corpus, pick the
    * most frequent pair (ties lexicographic-ascending), rewrite every
    * word with the pair merged, repeat. Returns the learned merge table
    * (step, pair, merged, cnt) — `merges` rows.
    *
    * Distribution shape: the corpus compresses to its |vocab| distinct
    * words up front (one shuffle; at 100 TB this is the classic orders-
    * of-magnitude shrink — pair statistics are identical on weighted
    * distinct words), then each round is a map-side pair explode + a
    * map-side-combinable weighted count on pair keys + a ONE-ROW argmax
    * collect + a map-only rewrite. Driver state is one merge rule per
    * round. Greedy left-to-right non-overlapping merge semantics come
    * from regexp_replace with a literal-quoted pattern — the exact
    * semantics of `replace()` in any engine, so the DuckDB oracle can
    * replay the same rounds.
    */
  /** Driver-trainer working-set multiplier: the collect estimate
    * (Row strings) understates the trainer's real heap — symbol
    * arrays, the pair-count map, the pair→word-id occurrence index,
    * and the heap each hold structures whose total size is O(word
    * chars) — so the budget gate compares estimate × this factor. */
  private val WorkingSetFactor = 4L

  /** Default driver-finish budget: with [[WorkingSetFactor]] = 4 this
    * keeps the effective COLLECT ceiling at the measured-safe 64 MiB
    * word table (the round-9 stress point) while pricing the trainer's
    * full working set honestly. */
  val DefaultDriverFinishBytes: Long = 256L << 20

  def bpeLearn(df: DataFrame, textCol: String, merges: Int = 3,
      maxBatch: Int = 64,
      driverFinishBytes: Long = DefaultDriverFinishBytes): DataFrame = {
    val (learned, _) = bpeRounds(df, textCol, merges, maxBatch,
      driverFinishBytes)
    df.sparkSession.createDataFrame(learned)
      .toDF("step", "pair", "merged", "cnt")
  }

  /** The learned (w, sp, freq) word table after `merges` BPE rounds —
    * the artifact segmentation consumes. Train ONCE, reuse across every
    * corpus/partition you tokenize (persist it like any vocab).
    * `maxBatch` caps merges per distributed counting round (1 = the
    * literal one-at-a-time process; any value produces identical
    * output — see [[bpeRounds]]); `driverFinishBytes` is the word-table
    * byte budget under which learning finishes driver-side (0 = always
    * distributed). */
  def bpeVocab(df: DataFrame, textCol: String, merges: Int = 3,
      maxBatch: Int = 64,
      driverFinishBytes: Long = DefaultDriverFinishBytes): DataFrame =
    bpeRounds(df, textCol, merges, maxBatch, driverFinishBytes)._2

  /** [[bpeLearn]] applied back to the corpus: segment every document
    * with the learned merge table and report per-document token counts
    * (id, n_words, n_bpe_tokens). This convenience overload RE-LEARNS
    * the merges from `df` itself (fine when train corpus == scored
    * corpus, as in the t15 gate query); the production path at scale is
    * train once with [[bpeVocab]], then call the vocab overload, which
    * pays only one map-side explode + one gated vocab join + one per-id
    * count — documents are never rewritten.
    */
  def bpeSegment(df: DataFrame, idCol: String, textCol: String,
      merges: Int = 3, maxBroadcastBytes: Long = 256L << 20): DataFrame =
    bpeSegment(df, idCol, textCol, bpeVocab(df, textCol, merges),
      maxBroadcastBytes)

  /** Segment with an ALREADY-LEARNED vocab (`bpeVocab`'s (w, sp, ...)
    * table): the 100 TB path — no learning jobs, just the scoring join
    * (broadcast under the measured gate; an open vocab falls back to a
    * shuffle join on `w`). Words absent from the vocab are dropped, so
    * score a corpus with a vocab trained on it or a superset. */
  def bpeSegment(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxBroadcastBytes: Long): DataFrame = {
    val ntok = vocab.select(col("w"),
      size(split(trim(col("sp")), "  ")).cast("long").as("ntok"))
    val m = ntok.agg(count(lit(1)).as("n"),
      coalesce(sum(length(col("w"))), lit(0L)).as("chars")).head()
    val vv = gateBroadcast(ntok, m.getLong(0), m.getLong(1),
      maxBroadcastBytes)
    df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vv, Seq("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_bpe_tokens"))
  }

  /** TRUE merge-apply BPE segmentation — tokenize ANY corpus with a
    * learned merge table, out-of-vocabulary words included. The
    * [[bpeSegment]] vocab join is a lookup of CACHED training-corpus
    * segmentations: cheap, but a word absent from the training corpus
    * silently vanishes from the counts — and the production pattern
    * for the trainer (train once on corpus A, tokenize corpus B
    * forever) is exactly where B has unseen words, which would corrupt
    * every downstream consumer keyed on token counts (p08 token
    * budgeting, p10 mixtures, packing). Real BPE segmentation applies
    * the learned merge RANKS to any word: split into code points,
    * repeatedly merge the lowest-rank adjacent pair present (the same
    * greedy non-overlapping fold the trainer uses — [[greedyMergeArr]]),
    * stop when no pair has a rank. Symbols that never merge remain
    * single code points, so NO word ever drops a token — an unseen
    * word costs at most its code-point count.
    *
    * Applying "lowest-rank-present repeatedly" equals replaying the
    * full merge list in rank order (the definitional process): a merge
    * only creates pairs involving its NEW symbol, and any such pair
    * was learned — if at all — at a LATER step than the one that
    * created the symbol, so no application can ever unlock an
    * earlier-rank pair. BpePropertySpec sweeps this equivalence
    * against the naive full-list fold, and pins encode == the vocab
    * join on in-vocab words (also the t18 oracle's hash gate) plus
    * exact unseen-word costs on train ∪ unseen corpora.
    *
    * Scale shape: the merge table is VOCABULARY-bounded (the k-means
    * centroid argument — |merges| rows, never corpus-sized), collected
    * once and broadcast; segmentation is one map pass, no shuffle
    * except the per-id count aggregation. Returns
    * (id, n_words, n_bpe_tokens) — every input row present, zero-word
    * documents included with counts 0 (nothing is dropped, which is
    * the operator's point).
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      mergeTable: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(collectRanks(mergeTable))
    df.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val r = bc.value
        it.map { case (id, text) =>
          var nWords = 0L
          var nTok = 0L
          val words = if (text == null) Array.empty[String]
            else text.split(" ")
          words.foreach { w =>
            if (w.nonEmpty) {
              nWords += 1
              nTok += bpeEncodeLen(w, r)
            }
          }
          (id, nWords, nTok)
        }
      }.toDF("id", "n_words", "n_bpe_tokens")
  }

  /** Token count of one word under the learned ranks — the counting
    * face of [[bpeEncodeSyms]]. Exposed to BpePropertySpec. */
  private[graft] def bpeEncodeLen(w: String,
      ranks: Map[(String, String), Int]): Int =
    bpeEncodeSyms(w, ranks).length

  /** Token SEQUENCE of one word under the learned ranks: code-point
    * symbols, repeatedly apply the lowest-rank adjacent pair present
    * via the shared greedy fold. Exposed to BpePropertySpec. */
  private[graft] def bpeEncodeSyms(w: String,
      ranks: Map[(String, String), Int]): Array[String] = {
    // code-point split — the trainer's regexp_replace("(.)") splits on
    // code points, so a supplementary character is ONE initial symbol
    // on both paths
    var syms: Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val n = Character.charCount(cp)
        out += w.substring(i, i + n)
        i += n
      }
      out.toArray
    }
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i < syms.length - 1) {
        val rk = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; bestA = syms(i); bestB = syms(i + 1) }
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        syms = greedyMergeArr(syms, bestA, bestB)
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** Token SEQUENCES under the learned ranks — the trainer handoff
    * [[bpeEncode]] deliberately omits: bpeEncode prices documents
    * (token counts for budgeting/packing); a trainer consumes the
    * tokens themselves. Same broadcast-ranks merge-apply fold
    * ([[bpeEncodeSyms]] per word — OOV words segment, nothing is ever
    * dropped), exploded to one row per emitted token:
    * (id, word_idx, tok_idx, token), with word_idx the 0-based
    * position among the document's non-empty words and tok_idx the
    * 0-based position within the word's segmentation — so
    * (word_idx, tok_idx) orders the document's full token stream and
    * GROUP BY id COUNT(*) reproduces [[bpeEncode]]'s n_bpe_tokens
    * exactly (BpePropertySpec pins both, plus sequence equality with
    * the definitional full-merge-list replay).
    *
    * Scale shape: merge table broadcast (vocabulary-bounded), one map
    * pass, no shuffle — the output is a flatMap of the input, sized
    * by the corpus's token count (what a tokenized corpus costs to
    * store anywhere). Zero-word documents contribute no rows here
    * (there is no token to emit); the counting face remains
    * row-complete.
    */
  def bpeTokenize(df: DataFrame, idCol: String, textCol: String,
      mergeTable: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(collectRanks(mergeTable))
    df.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val r = bc.value
        it.flatMap { case (id, text) =>
          val words = if (text == null) Array.empty[String]
            else text.split(" ").filter(_.nonEmpty)
          words.iterator.zipWithIndex.flatMap { case (w, wi) =>
            bpeEncodeSyms(w, r).iterator.zipWithIndex.map {
              case (tok, ti) => (id, wi, ti, tok)
            }
          }
        }
      }.toDF("id", "word_idx", "tok_idx", "token")
  }

  /** The learned TOKEN-ID table: every symbol the tokenizer can emit
    * for a corpus drawn from the training distribution — the base
    * code-point inventory of the training corpus plus every merged
    * symbol — with a deterministic dense id (0-based, ordered by the
    * token string; base symbols are single code points and merged
    * symbols are ≥ 2, so the two sets cannot collide, and a merged
    * string created twice across rounds — the documented collision
    * case — lands as ONE vocabulary entry, as it must). The global
    * row_number runs on a VOCABULARY-bounded table (the k-means
    * centroid argument: |chars| + |merges| rows, never corpus-sized),
    * so the single-partition window is a deliberate bounded driver-ish
    * finish, not a scale hole. */
  def bpeTokenIdTable(corpus: DataFrame, textCol: String,
      mergeTable: DataFrame): DataFrame = {
    val baseSyms = corpus
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      // the trainer's own code-point split (regexp "." matches a code
      // point, so a supplementary character is ONE base symbol)
      .select(explode(split(trim(regexp_replace(col("w"), "(.)", " $1 ")),
        " +")).as("token"))
    val mergedSyms = mergeTable.select(col("merged").as("token"))
    val distinctToks = baseSyms.unionByName(mergedSyms).distinct()
    distinctToks.select(col("token"),
      (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("token")))
        - 1).cast("long").as("token_id"))
  }

  /** [[bpeTokenize]] resolved to token IDS via a learned
    * [[bpeTokenIdTable]]: (id, word_idx, tok_idx, token, token_id).
    * The id table is vocabulary-bounded, so the join broadcasts; a
    * token absent from the table (a character never seen in training —
    * the byte-fallback case real tokenizers reserve UNK ids for)
    * surfaces with token_id NULL rather than silently dropping the
    * token, so downstream consumers SEE the coverage hole. */
  def bpeTokenIds(df: DataFrame, idCol: String, textCol: String,
      mergeTable: DataFrame, tokenIdTable: DataFrame): DataFrame =
    bpeTokenize(df, idCol, textCol, mergeTable)
      .join(broadcast(tokenIdTable), Seq("token"), "left")
      .select(col("id"), col("word_idx"), col("tok_idx"), col("token"),
        col("token_id"))

  /** The [[bpeEncode]] token-COUNT kernel as a reusable scalar column
    * factory: collect + broadcast the learned ranks ONCE at
    * construction, then every application is a zero-shuffle map over
    * the bound text column — the spelling that lets a pipeline stage
    * APPEND a BPE token count to an arbitrary frame without the
    * corpus-sized self-join `frame.join(bpeEncode(frame))` would cost
    * (the count is a pure function of the text, so attaching it is a
    * projection, not a join). Null text counts 0L, matching
    * bpeEncode's row-complete contract. A UDF rather than builtins
    * because the greedy merge-rank fold has no Catalyst spelling; the
    * ranks ride a broadcast, not the closure, so a 50k-merge
    * vocabulary ships to each executor once. */
  def bpeTokenCounter(mergeTable: DataFrame): Column => Column = {
    val s = mergeTable.sparkSession
    val bc = s.sparkContext.broadcast(collectRanks(mergeTable))
    val f = udf { (text: String) =>
      val r = bc.value
      if (text == null) 0L
      else {
        var n = 0L
        text.split(" ").foreach { w =>
          if (w.nonEmpty) n += bpeEncodeLen(w, r)
        }
        n
      }
    }
    (textCol: Column) => f(textCol)
  }

  /** Merge-rank map collected from a learned merge table — shared by
    * [[bpeEncode]] and [[bpeTokenize]] (merge-table-bounded, the
    * broadcast-vocab argument). */
  private def collectRanks(mergeTable: DataFrame)
      : Map[(String, String), Int] = {
    val s = mergeTable.sparkSession
    import s.implicits._
    mergeTable
      .select(col("step").cast("int"), col("pair").cast("string"))
      .as[(Int, String)].collect()
      .map { case (step, pr) =>
        val Array(a, b) = pr.split(" ", 2)
        (a, b) -> step
      }.toMap
  }

  /** BPE learning loop, BATCHED: each counting round applies up to
    * `maxBatch` merges in one pass, with the batch chosen so the result
    * is PROVABLY IDENTICAL to the one-at-a-time process (same learned
    * table, same counts, same final vocab — BpePropertySpec sweeps the
    * equivalence on adversarial run-heavy corpora). One merge per round
    * is one aggregation job + one driver round trip (~0.2 s measured);
    * a real 30k-50k-merge vocabulary spelled one-at-a-time is tens of
    * thousands of sequential Spark jobs — hours of pure launch
    * overhead. Batching divides the job count by the mean batch size
    * (Zipfian counts are mostly distinct, so early rounds batch near
    * the cap; SCALE_r09.json `bpe_jobs_probe` recorded the job counts;
    * BpePropertySpec gates the batched == sequential equivalence).
    *
    * Why the batch rule is exact (rank order = cnt desc, pair asc):
    *  - The batch is a RANK-PREFIX of pairwise symbol-DISJOINT pairs;
    *    the scan STOPS at the first pair sharing a symbol with an
    *    accepted one (skipping it and continuing would be wrong: the
    *    skipped pair's count is often untouched by the earlier merge,
    *    so the sequential process would pick IT next).
    *  - Disjoint pairs' occurrences cannot overlap, so applying the
    *    batch as one chained left-to-right replace IS sequential
    *    application, and no batch merge changes another batch pair's
    *    count.
    *  - A merge of (a,b), a != b, only DECREASES old counts (pairs
    *    touching a or b) and CREATES pairs involving the new symbol;
    *    every new pair (x,ab)/(ab,y)/(ab,ab) count is bounded by the
    *    count of an old pair touching a or b — an INTERACTING pair,
    *    which ranks at or after the stop. So requiring every batch
    *    member's count STRICTLY above the stop pair's count
    *    (`takeWhile > stopCnt`) guarantees no new pair can outrank a
    *    later batch member in the sequential process. (Count ties with
    *    a new pair would tie-break on the pair string, which CAN
    *    invert once symbols are multi-char — strictness sidesteps the
    *    whole case.)
    *  - A SELF-pair (a,a) is the exception to that bound: through runs
    *    its merge creates (aa,aa) and trailing (aa,a) pairs whose
    *    counts are bounded only by cnt(a,a) itself, so a self-pair
    *    closes its batch (it is always safe as the LAST member — its
    *    new pairs only matter in the next round). The seeded
    *    BpePropertySpec sweep is what caught this case.
    *  - A merged string can COLLIDE with a symbol created in an
    *    earlier round OR earlier in the same batch (e.g. "a"+"bc" ==
    *    "ab"+"c" == "abc"): a prior-round collision INCREASES existing
    *    pair counts, and a same-batch collision makes two merges feed
    *    the SAME new pairs, whose combined count (two <= stopCnt
    *    bounds added) escapes the strictness argument — so the batch
    *    truncates right after any member whose merged string was
    *    already created in either place (initial symbols are single
    *    chars, merged strings are >= 2 chars, so the prior-round set
    *    plus the batch-so-far set is the complete collision universe).
    *  - The first-ranked pair is always kept: a 1-element batch is
    *    literally the sequential step.
    */
  private def bpeRounds(df: DataFrame, textCol: String, merges: Int,
      maxBatch: Int = 64,
      driverFinishBytes: Long = DefaultDriverFinishBytes)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import java.util.regex.{Matcher, Pattern}
    require(maxBatch >= 1, s"bpeRounds: maxBatch=$maxBatch")
    require(driverFinishBytes >= 0L,
      s"bpeRounds: driverFinishBytes=$driverFinishBytes")
    // Working representation: every symbol wrapped in its OWN spaces —
    // "hello" -> " h  e  l  l  o ". A pair's occurrence (" a  b ") then
    // never shares boundary characters with the next occurrence, so a
    // plain non-overlapping left-to-right literal replace applies the
    // merge with EXACT greedy BPE semantics even through runs of the
    // same symbol (" a  a  a  a  a " -> " aa  aa  a ") — a single-space
    // separator gets this wrong (adjacent matches share the separator,
    // so the scan skips every second occurrence).
    var words = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), regexp_replace(col("w"), "(.)", " $1 ").as("sp"),
        col("freq"))
      .pin()
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    val mergedSyms = scala.collection.mutable.HashSet.empty[String]
    var step = 1
    var exhausted = false
    // The distinct-word table is VOCABULARY-bounded (corpus-size-
    // independent — like the k-means centroid table), so once it fits
    // the driver budget, learning finishes in ONE collect + an indexed
    // in-memory sequential trainer: O(1) Spark jobs for ANY merge
    // count. The distributed batched rounds below cover only the
    // above-budget phase. This split is measured, not assumed:
    // batching ALONE cannot deliver jobs << merges on natural text —
    // character-pair counts are dominated by a few hot symbols, so the
    // first interacting pair appears at rank 2-3 and the mean exact
    // batch is ~1.1 (SCALE_r09.json `bpe_jobs_probe`) — while the
    // collected table for real corpora is tens of MB (1M words x ~30 B).
    // the estimate depends only on w lengths and row count, which no
    // merge changes (sp only SHRINKS), so it is computed ONCE, never
    // per round: a run that starts over budget stays distributed, one
    // under it goes straight to the driver trainer. Budget 0 =
    // always-distributed, no probe job at all.
    //
    // What the bytes PRICE: the collect (Row strings) costs
    // chars*8 + rows*96; the trainer's working set on top of it —
    // per-word symbol arrays, the pair-count map, the pair→word-id
    // occurrence index, the heap — is a few multiples of that (every
    // structure is keyed by symbols/pairs whose total size is
    // O(word chars)), so the gate applies WorkingSetFactor to the
    // collect estimate rather than pretending the collect is the whole
    // footprint. The default budget is sized so the effective collect
    // ceiling stays at the measured-safe 64 MiB (10k merges over a
    // 158k-word table ran in 12.3 s / 7 jobs at that point).
    val wordTableBytes: Long =
      if (driverFinishBytes == 0L) Long.MaxValue
      else {
        val r = words.agg(
          coalesce(sum(length(col("w"))), lit(0L)).as("chars"),
          count(lit(1)).as("n")).head()
        // sp holds ~3 chars per w char (" X " per symbol; merges only
        // shrink it), 2 JVM bytes per char, ~96 B row overhead
        (r.getLong(0) * 8 + r.getLong(1) * 96) * WorkingSetFactor
      }
    while (step <= merges && !exhausted &&
        wordTableBytes > driverFinishBytes) {
      val cap = math.min(maxBatch, merges - step + 1)
      val withSym = words.withColumn("sym", split(trim(col("sp")), "  "))
      val pairs = withSym.select(col("freq"), explode(
        zip_with(
          slice(col("sym"), lit(1), size(col("sym")) - 1),
          slice(col("sym"), lit(2), size(col("sym")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("pr"))
      val top = pairs.groupBy(col("pr"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pr").asc)
        .limit(cap + 1).collect()
      if (top.isEmpty) exhausted = true
      else {
        // rank-prefix scan: accept while symbol-disjoint, stop at the
        // first interacting pair; the first NON-accepted count bounds
        // every pair a batch merge can create
        val accepted = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long)]
        val used = scala.collection.mutable.HashSet.empty[String]
        var i = 0
        var stopCnt = 0L
        var stopped = false
        while (i < top.length && !stopped && accepted.length < cap) {
          val pr = top(i).getString(0)
          val cnt = top(i).getLong(1)
          val Array(pa, pb) = pr.split(" ", 2)
          if (used.contains(pa) || used.contains(pb)) {
            stopped = true; stopCnt = cnt
          } else {
            accepted += ((pr, cnt)); used += pa; used += pb; i += 1
            // a SELF-pair (a,a) terminates the batch: through runs its
            // merge creates (aa,aa) and (aa,a) whose counts are bounded
            // only by cnt(a,a) itself — the top count — not by any
            // interacting pair, so no later member could be proven safe
            if (pa == pb) {
              stopped = true
              if (i < top.length) stopCnt = top(i).getLong(1)
            }
          }
        }
        if (!stopped && i < top.length) stopCnt = top(i).getLong(1)
        var keep = accepted.takeWhile(_._2 > stopCnt)
        if (keep.isEmpty) keep = accepted.take(1)
        // collision truncation: stop right after a merge whose string
        // already exists as a symbol — including one created EARLIER IN
        // THIS BATCH: two disjoint pairs can spell the same string
        // ("a"+"bc" == "ab"+"c" == "abc"), and then both merges feed
        // the same new pairs, whose combined count (two <= stopCnt
        // bounds ADDED) can outrank a later member in the sequential
        // process
        val batch = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long)]
        val batchSyms = scala.collection.mutable.HashSet.empty[String]
        var collided = false
        keep.foreach { case (pr, cnt) =>
          if (!collided) {
            batch += ((pr, cnt))
            val Array(pa, pb) = pr.split(" ", 2)
            val m = pa + pb
            if (mergedSyms.contains(m) || batchSyms.contains(m))
              collided = true
            batchSyms += m
          }
        }
        // one chained replace applies the whole batch in rank order
        var spCol = col("sp")
        batch.foreach { case (pr, cnt) =>
          val Array(pa, pb) = pr.split(" ", 2)
          val merged = pa + pb
          learned += ((step, pr, merged, cnt))
          mergedSyms += merged
          spCol = regexp_replace(spCol,
            lit(Pattern.quote(s" $pa  $pb ")),
            lit(Matcher.quoteReplacement(s" $merged ")))
          step += 1
        }
        val prev = words
        words = words.select(col("w"), spCol.as("sp"), col("freq"))
          .pin()
        // localCheckpoint is eager, so the superseded round's table is
        // fully consumed by the time it returns: release its blocks
        // NOW (the round-7 durable-dedup lesson). Cost model: one
        // bounded aggregation job + one driver round trip per BATCH
        // over the DISTINCT word table (shrunk once, up front), never
        // the corpus.
        DedupOps.releaseLocalCheckpoint(prev)
      }
    }
    if (step <= merges && !exhausted && driverFinishBytes > 0L) {
      // driver finish: collect the (vocab-bounded) table once, run the
      // remaining merges through the indexed sequential trainer, and
      // rebuild the word table as a local relation
      val local = words.select(col("w"), col("sp"), col("freq"))
        .collect()
        .map { r =>
          val sp = r.getString(1).trim
          val syms = if (sp.isEmpty) Array.empty[String]
            else sp.split("  ")
          (r.getString(0), syms, r.getLong(2))
        }
      DedupOps.releaseLocalCheckpoint(words)
      val rest = driverSequential(local, step, merges)
      learned ++= rest
      val s = df.sparkSession
      words = s.createDataFrame(local.toSeq.map { case (w, syms, f) =>
        (w, syms.map(x => s" $x ").mkString, f)
      }).toDF("w", "sp", "freq")
    }
    (learned.toSeq, words)
  }

  /** UTF-8 binary string order — what Spark's orderBy and the oracle
    * engine's binary collation both use; Java String.compareTo (UTF-16
    * code units) deviates off-ASCII, so the driver trainer must not
    * use it. */
  private def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  /** Greedy non-overlapping left-to-right merge of one symbol array —
    * the fold BpePropertySpec proves identical to the wrapped-symbol
    * regexp_replace the distributed rounds execute. A merged token
    * never re-merges in the same pass (a+b != a since b is non-empty).
    */
  private def greedyMergeArr(syms: Array[String], a: String, b: String)
      : Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { cur =>
      if (out.nonEmpty && out.last == a && cur == b)
        out(out.length - 1) = a + b
      else out += cur
    }
    out.toArray
  }

  /** The in-memory sequential trainer: argmax (cnt desc, pair
    * utf8-asc), greedy merge, incremental recount — the definitional
    * one-at-a-time process, so equivalence needs no batch-rule proof.
    * Indexed so each merge touches only the words containing its pair
    * (global pair counts + a pair -> word-ids occurrence index + a
    * lazy-deletion max-heap), the standard single-node BPE trainer
    * shape: total cost ~ O(sum over merges of affected-word symbols),
    * minutes for a 50k-merge vocabulary over millions of distinct
    * words. MUTATES `table` in place to the post-merge segmentation.
    */
  private def driverSequential(
      table: Array[(String, Array[String], Long)],
      startStep: Int, merges: Int)
      : Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def pairsOf(syms: Array[String]): Iterator[(String, String)] =
      if (syms.length < 2) Iterator.empty
      else syms.iterator.zip(syms.iterator.drop(1))
    table.iterator.zipWithIndex.foreach { case ((_, syms, f), wid) =>
      pairsOf(syms).foreach { p =>
        counts(p) = counts.getOrElse(p, 0L) + f
        occ.getOrElseUpdate(p, mutable.HashSet.empty) += wid
      }
    }
    val heap = new java.util.PriorityQueue[(Long, String, String)](
      math.max(1, counts.size),
      new java.util.Comparator[(Long, String, String)] {
        override def compare(x: (Long, String, String),
            y: (Long, String, String)): Int = {
          if (x._1 != y._1) java.lang.Long.compare(y._1, x._1)
          else {
            val (px, py) = (s"${x._2} ${x._3}", s"${y._2} ${y._3}")
            if (px == py) 0 else if (utf8Less(px, py)) -1 else 1
          }
        }
      })
    counts.foreach { case ((a, b), c) => heap.add((c, a, b)) }
    val learned = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = startStep
    while (step <= merges && !heap.isEmpty) {
      // lazy deletion: stale entries (count changed since push) discard
      var top: (Long, String, String) = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        if (counts.get((e._2, e._3)).contains(e._1)) top = e
      }
      if (top != null) {
        val (cnt, a, b) = top
        learned += ((step, s"$a $b", a + b, cnt))
        val affected = occ.getOrElse((a, b), mutable.HashSet.empty).toArray
        val changed = mutable.HashSet.empty[(String, String)]
        affected.foreach { wid =>
          val (w, syms, f) = table(wid)
          val merged = greedyMergeArr(syms, a, b)
          val oldP = pairsOf(syms).toArray
          val newP = pairsOf(merged).toArray
          oldP.foreach { p =>
            val c = counts(p) - f
            if (c == 0L) counts.remove(p) else counts(p) = c
            changed += p
          }
          newP.foreach { p =>
            counts(p) = counts.getOrElse(p, 0L) + f
            changed += p
          }
          val oldS = oldP.toSet
          val newS = newP.toSet
          (oldS -- newS).foreach { p =>
            occ.get(p).foreach { s => s -= wid; if (s.isEmpty) occ.remove(p) }
          }
          (newS -- oldS).foreach { p =>
            occ.getOrElseUpdate(p, mutable.HashSet.empty) += wid
          }
          table(wid) = (w, merged, f)
        }
        changed.foreach { p =>
          counts.get(p).foreach(c => heap.add((c, p._1, p._2)))
        }
        step += 1
      }
    }
    learned.toSeq
  }
}
