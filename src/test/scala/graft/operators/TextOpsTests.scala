package graft.operators

import org.apache.spark.sql.functions.col

/** [[TextOps]]' text scoring operators. */
trait TextOpsTests extends OpsSpecBase {

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
}
