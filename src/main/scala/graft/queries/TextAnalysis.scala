package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.sources.Tables

/**
 * Text-analysis queries over the `documents` table (north-star
 * extension; TESTDATA.md). Pure per-row columnar transforms — at
 * 100 TB these run as one parquet scan with whole-stage codegen, no
 * shuffle, no UDFs. Each query has an exact DuckDB twin in [[oracle]].
 */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")

  /** Token accounting: whitespace tokens and the BPE-ish subword proxy. */
  def t1TokenStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      col("n_chars"),
      tokenCount(col("text")).cast("long").as("ws_tokens"),
      bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))

  /** Quality signals + folded score. */
  def t2Quality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      round(punctRatio(col("text")), 6).as("punct_ratio"),
      round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
      round(meanTokenLen(col("text")), 6).as("mean_token_len"),
      qualityScore(col("text")).as("quality"))

  /** Marker-based language heuristic with per-language counts. */
  def t3LangId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      Seq(col("doc_id"), langGuess(col("text")).as("lang_guess")) ++
        LangMarkers.map { case (code, ms) =>
          langMarkerCount(col("text"), ms).cast("long").as(s"c_$code")
        }: _*)

  /** Normalized md5 + rolling-min-hash fingerprints. */
  def t4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      normalizedFingerprint(col("text")).as("fp_norm"),
      rollingMinHash(col("text")).as("fp_rolling"))

  /** Intra-doc 3-gram repetition (Gopher boilerplate signal). */
  def t5Repetition(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.dedup.Dedup.wordShingles(col("text"))
    docs(spark, dir).select(
      col("doc_id"),
      size(sh).cast("long").as("n_grams"),
      size(array_distinct(sh)).cast("long").as("n_distinct"),
      round(repetitionRatio(col("text")), 6).as("rep_ratio"))
  }

  /** TOP-n-gram DOMINANCE — the Gopher repetition signal
    * [[t5Repetition]] does not carry: what fraction of the document
    * the single most frequent word 2-gram / 3-gram covers (Rae et
    * al. 2021 A1.1's "top n-gram character fraction", measured here
    * in TOKEN positions — n·count/n_tokens — so both engines compute
    * exact integer ratios instead of char spans; same signal,
    * portable by construction). OVERLAPPING repeats ("x x x": the
    * 2-gram "x x" twice over 3 tokens) would push the raw ratio past
    * 1, so it is capped at 1.0 — the column is a true [0, 1] fraction
    * a ported Gopher-style threshold can consume (review finding).
    * t5 measures duplication MASS
    * (distinct vs total grams); this measures CONCENTRATION — a
    * boilerplate page repeating one header scores high here while a
    * diverse-but-repetitive page does not.
    *
    * Scale shape: per-doc gram counts partial-combine on
    * (doc_id, gram), the per-doc max folds the same frame — one
    * exchange keyed on the doc, no corpus-wide state. */
  def rep2TopNgram(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    def top(n: Int, out: String): DataFrame = d
      .select(col("doc_id"),
        explode(graft.dedup.Dedup.wordShingles(col("text"), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as(out))
    val nTok = d.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("n_tokens"))
    def frac(cnt: org.apache.spark.sql.Column, n: Int) =
      when(col("n_tokens") > 0,
        floor(least(lit(1.0), lit(n.toDouble) * cnt / col("n_tokens"))
          * lit(1e6) + lit(0.5)) / lit(1e6))
    nTok
      .join(top(2, "t2c"), Seq("doc_id"), "left")
      .join(top(3, "t3c"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("t2c"), lit(0L)).as("top2_count"),
        frac(coalesce(col("t2c"), lit(0L)), 2).as("top2_frac6"),
        coalesce(col("t3c"), lit(0L)).as("top3_count"),
        frac(coalesce(col("t3c"), lit(0L)), 3).as("top3_frac6"))
  }

  /** Stopword-presence list for the Gopher R5 rule ("contains at
    * least two distinct stopwords"). The paper's own list (the, be,
    * to, of, and, that, have, with — Rae et al. 2021 §A1.1) is tuned
    * for web English; the engine keys the rule off its shared
    * [[graft.functions.TextFunctions.EnStopwords]] list so the rule
    * and the t2 stopword-ratio signal agree on what a stopword is —
    * the LIST is configuration, the RULE (≥ 2 distinct present) is
    * Gopher's. */
  private val GopherStops = graft.functions.TextFunctions.EnStopwords

  /** Gopher document-filter rules (Rae et al. 2021, appendix A1.1) as
    * a per-doc rule audit + keep decision: word count in [50, 100k],
    * mean word length in [3, 10], symbol-to-word ratio ≤ 0.1 (# and
    * ellipsis), ≥ 80% of words contain an alphabetic character, and
    * ≥ 2 distinct stopwords present. (The bullet/ellipsis LINE-ratio
    * rules need line structure the corpus lacks — no newlines — and
    * are deliberately out.) Pure per-row map like the rest of the
    * layer; the keep predicate compares the identical IEEE quotients
    * in both engines, so the boolean is portable without margins. */
  def t7GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    val nW = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _)
    val meanLen = when(nW === 0, lit(0.0)).otherwise(sumLen.cast("double") / nW)
    val alphaRatio = when(nW === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / nW)
    val symRatio = when(nW === 0, lit(0.0)).otherwise(
      size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0))).cast("double") / nW)
    val stopKinds = GopherStops.map(w =>
      when(array_contains(toks, w), 1L).otherwise(0L)).reduce(_ + _)
    docs(spark, dir).select(
      col("doc_id"),
      nW.as("n_words"),
      round(meanLen, 6).as("mean_word_len6"),
      round(alphaRatio, 6).as("alpha_ratio6"),
      round(symRatio, 6).as("symbol_ratio6"),
      stopKinds.as("n_stop_kinds"),
      (nW >= 50 && nW <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symRatio <= 0.1 && alphaRatio >= 0.8 &&
        stopKinds >= 2).as("keep"))
  }

  /** Language-model quality scoring, unigram form (the CCNet move —
    * Wenzek et al. 2020 — with the KenLM replaced by the corpus's own
    * unigram distribution): score each document by the mean negative
    * log-likelihood of its tokens under p(t) = count(t)/total. Low
    * nll ≈ repetitive/common-word text, high nll ≈ rare-token text —
    * the standard perplexity-proxy axis for corpus filtering.
    *
    * Portability: p is an exact integer ratio; the per-token -ln p
    * terms are summed in POSITION order on both sides (Spark:
    * array_sort(collect_list(struct(pos, term))) folded left-to-right;
    * DuckDB: list(term ORDER BY pos) → list_sum), so the only
    * cross-engine noise is ln()'s ulp — absorbed by ROUND(,6) on
    * fixed data, same argument as the m2 entropy twin.
    *
    * Scale posture: one shuffle to count tokens (map-side combined,
    * vocabulary-sized output), the 1-row total broadcast, the
    * count-join on token (vocabulary-sized build side — Catalyst
    * broadcasts it when small), and a per-doc fold whose state is
    * bounded by document length. No corpus-wide sort.
    */
  def t8UnigramNll(spark: SparkSession, dir: String): DataFrame = {
    val tk = docs(spark, dir)
      .select(col("doc_id"), posexplode(wsTokens(lower(col("text")))).as(Seq("pos", "tok")))
    // size-gated barrier (PlanAudit finding): the vocab-grain count
    // feeds BOTH the total aggregate and the probe join with
    // different pruned outputs, so ReuseExchange cannot collapse them
    // — without the barrier the corpus explode+count runs twice
    val counts = graft.Materialize.barrierAbove(
      tk.groupBy(col("tok")).agg(count(lit(1)).as("c")),
      sizeOf = docs(spark, dir))
    val total = counts.agg(sum(col("c")).as("total"))
    tk.join(counts, Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("term", -log(col("c").cast("double") / col("total")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        aggregate(
          array_sort(collect_list(struct(col("pos"), col("term")))),
          lit(0.0),
          (acc, x) => acc + x.getField("term")).as("nll"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("nll") / col("n_tokens"), 6).as("nll_mean"))
  }

  /** Bigram LM quality scoring — t8's CCNet-style perplexity proxy
    * upgraded one Markov order: per-doc mean negative log-likelihood
    * under an add-one-smoothed corpus BIGRAM model,
    * P(w_i | w_{i−1}) = (c(w_{i−1}, w_i) + 1) / (c(w_{i−1}) + V).
    * The second-order signal catches word-salad documents whose
    * UNIGRAM distribution looks fine (right words, wrong order) —
    * exactly what t8 cannot see. Docs with fewer than two tokens have
    * no bigrams and drop out (t8's inner-join convention).
    *
    * Portability: counts and V are exact integers; each −ln term is
    * computed from the identical integer ratio on both engines (the
    * t8 ln-ulp exposure, absorbed by ROUND(,6)); the per-doc sum
    * folds in POSITION ORDER via the same array_sort/ORDER BY pos
    * pairing t8 pins.
    *
    * Scale shape: token explode → lead window per doc (one doc_id
    * exchange), bigram/unigram count aggregates (partial-combined,
    * keyed on the gram), count-lookup joins keyed the same way, V as
    * one broadcast scalar — no corpus-wide single partition anywhere. */
  /** Shared token/bigram counting chain for [[t11BigramNll]] and
    * [[pmi1Collocations]]: (tk token positions, bg bigram rows, uni
    * unigram counts, big bigram counts) — ONE definition so the two
    * operators' tokenization and tie rules cannot drift. */
  private def bigramCounts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // size-gated barrier on the token positions (round-18 generate
    // detector finding): tk has two consumers (uni, the bigram chain)
    // whose divergent pruning re-runs the scan + posexplode per
    // consumer — above the gate, one materialized token frame feeds
    // both
    val tk = graft.Materialize.barrierAbove(
      docs(spark, dir)
        .select(col("doc_id"), posexplode(wsTokens(lower(col("text")))).as(Seq("pos", "tok"))),
      sizeOf = docs(spark, dir))
    val bg = tk.withColumn("nxt", lead(col("tok"), 1).over(w))
      .where(col("nxt").isNotNull)
    // size-gated barrier (PlanAudit finding): uni has two consumers
    // in BOTH callers (t11: vocab scalar + probe join; pmi1: the two
    // endpoint-count joins) whose pruned outputs defeat ReuseExchange
    val uni = graft.Materialize.barrierAbove(
      tk.groupBy(col("tok")).agg(count(lit(1)).as("cu")),
      sizeOf = docs(spark, dir))
    val big = bg.groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("cb"))
    (tk, bg, uni, big)
  }

  def t11BigramNll(spark: SparkSession, dir: String): DataFrame = {
    val (_, bg, uni, big) = bigramCounts(spark, dir)
    val vocab = uni.agg(count(lit(1)).as("v"))
    bg.join(big, Seq("tok", "nxt")).join(uni, Seq("tok"))
      .crossJoin(broadcast(vocab))
      .withColumn("term",
        -log((col("cb") + 1).cast("double") / (col("cu") + col("v")).cast("double")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll") / col("n_bigrams"), 6).as("bigram_nll_mean"))
  }

  /** COLLOCATION mining — top-k adjacent word pairs by pointwise
    * mutual information PMI = ln(P(a,b) / (P(a)·P(b))) with a minimum
    * bigram count (the classic Church–Hanks association measure; the
    * corpus-analysis step that surfaces multi-word expressions worth
    * protecting from tokenizers and chunkers). Reuses t11's counting
    * chain; all counts are exact integers, the PMI argument is ONE
    * double expression with the identical multiplication order on
    * both engines (products in double — the integer form would
    * overflow long at corpus scale), ln's ulp exposure is absorbed by
    * ROUND(,6) (the t8 precedent), and the rank orders by the ROUNDED
    * score with (tok, nxt) tie-break so both engines rank
    * identically. Top-k via TakeOrderedAndProject. */
  def pmi1Collocations(
      spark: SparkSession, dir: String,
      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    val (_, _, uni, big) = bigramCounts(spark, dir)
    // scalar totals from the already-collapsed count frames, NOT from
    // re-reading the token/bigram streams (round-18 generate finding:
    // tk.agg and bg.agg were the 2nd and 3rd divergently-pruned
    // consumers of the explode): Σcu = token count, Σcb = bigram count
    val scalars = uni.agg(sum(col("cu")).as("n_tok"))
      .crossJoin(big.agg(sum(col("cb")).as("n_big")))
    val scored = big.where(col("cb") >= minCount)
      .join(uni.select(col("tok"), col("cu").as("cu_a")), Seq("tok"))
      .join(uni.select(col("tok").as("nxt"), col("cu").as("cu_b")), Seq("nxt"))
      .crossJoin(broadcast(scalars))
      .withColumn("pmi6", round(log(
        (col("cb").cast("double") * col("n_tok") * col("n_tok"))
          / (col("n_big").cast("double") * col("cu_a") * col("cu_b"))), 6))
    scored.orderBy(col("pmi6").desc, col("tok"), col("nxt")).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi6").desc, col("tok"), col("nxt"))).cast("long"))
      .select(col("rank"), col("tok"), col("nxt"), col("cb"), col("pmi6"))
  }

  /** TF-IDF TOP TERMS — per document, the `topK` most characteristic
    * terms by raw-count TF-IDF: score(t, D) = tf(t, D) · ln(N / df(t))
    * — the classic keyword-extraction / document-labeling primitive
    * (and the per-doc counterpart of v1's corpus vocabulary view).
    * All score inputs are exact integers (tf, df, N), so each score
    * is ONE double expression; ln's ulp exposure is absorbed by
    * ROUND(,6) (the t8 precedent) and the per-doc ranking orders by
    * the ROUNDED score with a token tie-break, so both engines rank
    * identically. Zero-token documents drop out (no tf rows — the
    * t8 inner-join convention).
    *
    * Scale shape: token explode → one (doc, tok) partial-combined
    * count; df is a second aggregate OVER THE TF FRAME (vocabulary ×
    * doc-incidence grain, already collapsed — never re-scans the
    * corpus); N rides as one broadcast scalar; the top-k is a
    * per-doc WindowGroupLimit (rank ≤ k prunes inside the window
    * operator), not a global sort. */
  def tf1TfidfTopTerms(
      spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val tk = docs(spark, dir)
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("tok"))
    // barrier: tf feeds BOTH the df aggregate and the scored output —
    // without it the corpus explode runs twice (the two consumers'
    // aggregate output lists differ, so ReuseExchange cannot collapse
    // them — the au1/jw1 finding)
    val tf = graft.Materialize.barrier(
      tk.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs(spark, dir).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score6").desc, col("tok"))
    tf.join(dfc, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("score6", round(
        col("tf").cast("double") * log(col("n").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"),
        col("score6"))
  }

  /** ZIPF SLOPE — OLS fit of log(count) against log(rank) over the
    * top-1000 vocabulary: natural text runs slope ≈ −1 (Zipf's law);
    * synthetic/templated/boilerplate corpora flatten or steepen it,
    * so the slope is a one-number corpus-health check alongside t9's
    * char stats. Portability: both logs are QUANTIZED to integer
    * micro-units per point (floor(ln·1e6 + 0.5) — each point is one
    * ln whose ulp would need to sit within 1e-6 of a grid boundary
    * to diverge), so the OLS sums are exact integers in any order
    * and the slope/intercept are the cr2 centered-sum discipline.
    * Shape: one token count aggregate, the v1 single-partition
    * ranking over the vocabulary-sized frame, one scalar OLS row. */
  def zipf1VocabSlope(
      spark: SparkSession, dir: String, topV: Int = 1000): DataFrame = {
    val counts = docs(spark, dir)
      .select(explode(wsTokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // barrier: `ranked` (corpus explode + count + the single-partition
    // rank — the operator's own bottleneck) feeds BOTH the stats
    // aggregate and the centered pass; unbarriered it ran twice
    // (review finding — the tf1/ov1 shape)
    val ranked = graft.Materialize.barrier(counts
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("tok"))).cast("long"))
      .where(col("rn") <= topV)
      .select(
        floor(log(col("rn").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("xu"),
        floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("yu")))
    val stats = ranked.agg(count(lit(1)).as("n"),
      sum(col("xu")).as("sx"), sum(col("yu")).as("sy"))
      .withColumn("xbar", floor(col("sx").cast("double") / col("n") + lit(0.5)))
      .withColumn("ybar", floor(col("sy").cast("double") / col("n") + lit(0.5)))
    val centered = ranked.crossJoin(broadcast(stats))
      .withColumn("cx", (col("xu").cast("double") - col("xbar")) / lit(1e6))
      .withColumn("cy", (col("yu").cast("double") - col("ybar")) / lit(1e6))
      .groupBy(col("n"), col("xbar"), col("ybar"))
      .agg(sum(col("cx") * col("cy")).as("sxy"),
        sum(col("cx") * col("cx")).as("sxx"))
    // symmetric floor-formula (Round6): the slope is NEGATIVE for
    // Zipfian text — floor(x·1e6+0.5) alone mis-rounds negatives
    centered.select(col("n").as("n_points"),
      Round6.r6(when(col("sxx") > 0.0, col("sxy") / col("sxx"))).as("slope6"))
  }

  /** PER-SOURCE QUALITY PROFILE — t2's quality score rolled up to the
    * (source, lang) grain: doc count, docs clearing the cu1 keep
    * threshold, keep rate, and mean quality — the "which feeds are
    * rotting" dashboard a corpus pipeline watches per ingest source.
    * The quality score is t2's 6dp-grid value, so re-quantizing to
    * integer micro-units makes the group sums EXACT in any order; the
    * keep compare runs on the grid value (the cu1-proven portable
    * threshold); rate and mean go through the floor-formula. Shape:
    * one partial-combined aggregate on a taxonomy-bounded key. */
  def dq1SourceQuality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), col("lang"), qualityScore(col("text")).as("q"))
      .withColumn("qu", floor(col("q") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("q") >= lit(0.5)).cast("long")).as("n_keep"),
        sum(col("qu")).as("squ"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_keep"),
        (floor(col("n_keep").cast("double") / col("n_docs") * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("keep_rate6"),
        (floor(col("squ").cast("double") / col("n_docs") + lit(0.5))
          / lit(1e6)).as("mean_quality6"))

  /** VOCABULARY COVERAGE / OOV RATE — per document, the fraction of
    * tokens OUTSIDE the corpus's top-`topV` vocabulary: the
    * tokenizer-coverage audit run before committing a vocab size
    * (high OOV → the tokenizer will shatter those documents into
    * bytes/unknowns). Vocabulary = top-V tokens by (count DESC, token)
    * — fully deterministic cutoff. The rate is one division of exact
    * integers, emitted through the r6 floor-formula (a k/n ratio CAN
    * land exactly on a .5e-6 boundary).
    *
    * Scale shape: one token-keyed count aggregate; the vocab ranking
    * is a single-partition window over the VOCABULARY-sized frame
    * (v1 precedent — bounded by distinct tokens, not corpus); the
    * membership join broadcasts the top-V list; per-doc counts are
    * partial-combined. */
  def ov1VocabCoverage(
      spark: SparkSession, dir: String, topV: Int = 1000): DataFrame = {
    val tk = docs(spark, dir)
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("tok"))
    // barrier the (doc, tok) frame and derive BOTH the vocabulary
    // (summing per-doc tf — never re-exploding the corpus) and the
    // per-doc coverage from it: without this the explode ran twice
    // (the au1/jw1/tf1 ReuseExchange finding, caught in review).
    // Size-gated: at gate SF the two recomputes are cheaper than the
    // fixed checkpoint write (measured 0.19 → 0.40 s un-gated)
    val tfd = graft.Materialize.barrierAbove(
      tk.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")),
      sizeOf = docs(spark, dir))
    val counts = tfd.groupBy(col("tok")).agg(sum(col("tf")).as("c"))
    val vocab = counts
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("tok"))))
      .where(col("rn") <= topV)
      .select(col("tok"), lit(1L).as("inv"))
    tfd.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("inv").isNull, col("tf")).otherwise(lit(0L))).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (floor(col("n_oov").cast("double") / col("n_tokens") * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("oov_rate6"))
  }

  /** BM25 term-query retrieval terms for the bm1 gate key — chosen
    * from the synthetic vocabulary so df spans common ("table") to
    * rarer ("spark") and scores separate. */
  private[graft] val Bm25Terms: Seq[String] = Seq("spark", "table", "window")

  /**
   * BM25 top-k retrieval (Robertson-Spärck Jones; the standard k1/b
   * parameterization) for a FIXED bag of query terms over the corpus:
   * score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
   * idf(t) = ln((N−df+0.5)/(df+0.5)+1).
   *
   * Scale posture: per-doc tf/dl are PER-ROW array expressions on the
   * scan (no explode, no token shuffle — the query has |terms| ≪
   * vocabulary, so counting via `filter(toks, = t)` beats t8's
   * inverted-index join); corpus statistics (N, Σdl, per-term df)
   * are ONE scalar aggregate broadcast back; top-k is sort+limit —
   * Catalyst plans TakeOrderedAndProject, per-partition heaps of k,
   * never a global sort. The only single-partition step is ranking
   * the k survivors.
   *
   * Portability: score terms are folded left-to-right in the given
   * term order with the identical IEEE op sequence in the DuckDB twin;
   * ln() ulp noise is absorbed by ROUND(,6) (same exposure as t8),
   * and the rank orders by the ROUNDED score with doc_id tie-break so
   * both engines rank identically.
   */
  def bm25TopK(
      docsDf: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = wsTokens(lower(col("text")))
    // barrier: withTf feeds BOTH the corpus-stats aggregate and the
    // scored projection below — without it the full tokenization scan
    // runs twice (once per consumer)
    val withTf = graft.Materialize.barrier(docsDf.select(
      col("doc_id") +: size(toks).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === lit(t))).cast("long").as(s"tf$i")
        }: _*))
    val g = withTf.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    val joined = withTf.crossJoin(broadcast(g))
    val avgdl = col("sdl").cast("double") / col("n")
    val score = terms.indices.map { i =>
      val idf = log(((col("n") - col(s"df$i")) + lit(0.5)) / (col(s"df$i") + lit(0.5)) + lit(1.0))
      idf * ((col(s"tf$i") * lit(k1 + 1.0)) /
        (col(s"tf$i") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / avgdl))))
    }.reduceLeft(_ + _)
    val scored = joined.select(col("doc_id"), col("dl"), round(score, 6).as("score6"))
    import org.apache.spark.sql.expressions.Window
    scored.orderBy(col("score6").desc, col("doc_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score6").desc, col("doc_id"))))
  }

  /** Char-level statistics filter (the character-distribution half of
    * the C4/Gopher cleaning recipes — Raffel et al. 2020 §2.2, Rae et
    * al. 2021 A1.1; the line-based rules are out for the same reason
    * as t7: the corpus has no newlines): per-doc digit and uppercase
    * ratios, Shannon entropy of the character distribution, and the
    * most-common-character frequency (the "one char repeated" garbage
    * signal). Pure per-row map — no shuffle; the histogram is an
    * O(len·distinct) in-row fold over the SORTED distinct chars so
    * both engines sum the entropy terms in the identical order (the
    * t8 position-order-summation argument; ln ulp absorbed by
    * ROUND(,6)). The keep rule compares the ROUNDED values, so the
    * boolean is portable by construction (the cu1 threshold trick). */
  def t9CharStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val len = length(t)
    val nDigit = (len - length(regexp_replace(t, "[0-9]", ""))).cast("long")
    val nUpper = (len - length(regexp_replace(t, "[A-Z]", ""))).cast("long")
    val nVis = length(regexp_replace(t, "\\s", ""))
    val chars = when(len === 0, typedlit(Seq.empty[String]))
      .otherwise(transform(sequence(lit(1), len), i => t.substr(i, lit(1))))
    val counts = transform(array_sort(array_distinct(chars)),
      ch => size(filter(chars, c => c === ch)))
    val digitRatio = when(nVis === 0, lit(0.0))
      .otherwise(nDigit.cast("double") / nVis)
    val upperRatio = when(nVis === 0, lit(0.0))
      .otherwise(nUpper.cast("double") / nVis)
    val topFrac = when(len === 0, lit(0.0))
      .otherwise(array_max(counts).cast("double") / len)
    val p = (c: Column) => c.cast("double") / len
    val entropy = when(len === 0, lit(0.0)).otherwise(
      -aggregate(counts, lit(0.0), (acc, c) => acc + p(c) * log(p(c))))
    docs(spark, dir).select(
      col("doc_id"),
      nDigit.as("n_digits"),
      nUpper.as("n_upper"),
      round(digitRatio, 6).as("digit_ratio6"),
      round(upperRatio, 6).as("upper_ratio6"),
      round(entropy, 6).as("char_entropy6"),
      round(topFrac, 6).as("top_char_frac6"),
      (round(entropy, 6) >= 2.0 && round(digitRatio, 6) <= 0.3 &&
        round(topFrac, 6) <= 0.25).as("keep"))
  }

  /** PII counts + redacted-text digest (pre-packing scrub pass). */
  def t6PiiScrub(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      piiCount(col("text"), EmailRe).cast("long").as("n_emails"),
      piiCount(col("text"), SsnRe).cast("long").as("n_ssns"),
      piiCount(col("text"), Ipv4Re).cast("long").as("n_ips"),
      piiCount(col("text"), PhoneRe).cast("long").as("n_phones"),
      piiCount(col("text"), AddressRe).cast("long").as("n_addresses"),
      md5(piiScrub(col("text"))).as("scrub_md5"))

  // --- DuckDB twins -----------------------------------------------------
  // DuckDB regexp_replace needs the 'g' flag (Spark's is global by
  // default); list lambdas mirror Spark's higher-order functions.

  /**
   * KL divergence between the unigram word distributions of a target
   * corpus slice and the rest — the distribution-drift diagnostic a
   * selection pipeline runs before/after filtering (how far did
   * curation move the language?). Add-one smoothing over the UNION
   * vocabulary on both sides; the sum Σ p·ln(p/q) folds in TOKEN
   * order (the t8/ir1 ordered-fold determinism tax — the
   * partial-aggregated plain sum is the production path, identical
   * modulo float association) so both engines run the identical IEEE
   * sequence; ln ulp noise is absorbed by ROUND(,6). One row:
   * (n_vocab, t_tokens, r_tokens, kl6).
   */
  def t10KlDivergence(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(
      coalesce(col("lang") === "en", lit(false)).as("it"),
      explode(wsTokens(lower(col("text")))).as("tok"))
    // size-gated barrier (PlanAudit finding): c feeds the totals
    // aggregate AND the terms join — reuse-defeated without it
    val c = graft.Materialize.barrierAbove(
      toks.groupBy(col("tok")).agg(
        sum(when(col("it"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("it"), 0L).otherwise(1L)).as("cr")),
      sizeOf = docs(spark, dir))
    val tot = broadcast(c.agg(
      count(lit(1)).as("v"), sum(col("ct")).as("tt"), sum(col("cr")).as("tr")))
    val terms = c.crossJoin(tot).select(col("tok"),
      ((col("ct") + lit(1.0)) / (col("tt") + col("v")).cast("double")).as("p"),
      ((col("cr") + lit(1.0)) / (col("tr") + col("v")).cast("double")).as("q"),
      col("v"), col("tt"), col("tr"))
    terms.groupBy(col("v"), col("tt"), col("tr"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("tok"),
          (col("p") * log(col("p") / col("q"))).as("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("kl"))
      .select(col("v").as("n_vocab"), col("tt").as("t_tokens"),
        col("tr").as("r_tokens"), round(col("kl"), 6).as("kl6"))
  }

  /**
   * Quality-threshold YIELD CURVE — the number every filtering run
   * needs before committing: for each candidate threshold t ∈
   * {0.0, 0.1, …, 0.9}, how many documents and tokens survive
   * `quality ≥ t`. Computing it per-candidate would re-scan the
   * corpus once per threshold; this runs as ONE scan: each doc folds
   * into its decile bucket `min(⌊quality·10⌋, 9)` (a bucketed
   * aggregate, ≤10 combined rows through the exchange), then the
   * cumulative kept-at-threshold counts come from a 10×10
   * bounded-side join over the bucket frame — O(1) work after the
   * scan no matter the corpus size. The bucket formula (not a raw
   * `q ≥ t` float compare) is mirrored verbatim in the oracle, so
   * threshold membership is identical-by-construction cross-engine
   * (quality itself is the t2-proven digit-identical score).
   * Output: (thr10, n_docs_kept, n_tokens_kept, docs_frac6,
   * tokens_frac6), thr10 = 10·threshold.
   */
  def qs1QualityYield(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = docs(spark, dir).select(
      least(floor(qualityScore(col("text")) * 10.0).cast("long"), lit(9L)).as("b"),
      tokenCount(col("text")).cast("long").as("n_toks"))
    // barrier (t10 idiom): the bucket aggregate feeds the totals AND
    // the threshold join — reuse-defeated duplicate scan without it
    val buckets = graft.Materialize.barrierAbove(
      perDoc.groupBy(col("b")).agg(
        count(lit(1)).as("c"), sum(col("n_toks")).as("t")),
      sizeOf = docs(spark, dir))
    val tot = broadcast(buckets.agg(
      sum(col("c")).as("tc"), sum(col("t")).as("tt")))
    val grid = spark.range(0, 10).select(col("id").as("thr10"))
    grid.join(buckets, col("b") >= col("thr10"), "left")
      .groupBy(col("thr10"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_docs_kept"),
        coalesce(sum(col("t")), lit(0L)).as("n_tokens_kept"))
      .crossJoin(tot)
      .select(col("thr10"), col("n_docs_kept"), col("n_tokens_kept"),
        Round6.r6(col("n_docs_kept").cast("double") / col("tc")).as("docs_frac6"),
        Round6.r6(col("n_tokens_kept").cast("double") / col("tt")).as("tokens_frac6"))
  }

  /**
   * Filter-cascade FUNNEL — per-stage survivor counts of the standard
   * curation chain (language → quality → length → repetition), each
   * stage conditional on all previous: the audit table a pipeline
   * publishes so yield loss is attributable to a specific stage. All
   * five stages fold in ONE corpus scan. Thresholds: langGuess = en,
   * quality ≥ 0.8, 20 ≤ tokens ≤ 5000, 3-gram repetition (6dp) ≤ 0.02.
   *
   * Shape (the qs1 bucket design): each doc folds to the HIGHEST
   * STAGE IT REACHES — one short-circuiting CASE, so a doc failing
   * the language gate never evaluates the quality or repetition
   * kernels at all — the per-stage aggregate carries ≤5 combined
   * rows through the exchange, and the cumulative funnel is a
   * bounded 5×5 join. The first-draft alternative (per-flag boolean
   * COLUMNS consumed by 8 conditional aggregates) measured ~30×
   * slower at sf0.1 for two bisected reasons: flag columns are
   * unconditional, so EVERY doc paid the heaviest kernel (the
   * then-quadratic shingle repetition signal — since fixed at
   * [[graft.dedup.Dedup.wordShingles]]), and lambda-containing
   * expressions are excluded from subexpression elimination, so each
   * flag REFERENCE re-evaluates its whole kernel chain. The
   * reached-stage form pays each kernel at most once per row, and
   * the expensive ones only on the small suffix of docs that survive
   * the earlier stages.
   */
  def fc1FilterCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nToks = tokenCount(col("text")).cast("long")
    val f1 = langGuess(col("text")) === "en"
    val f2 = qualityScore(col("text")) >= 0.8
    val f3 = nToks >= 20 && nToks <= 5000
    val f4 = Round6.r6(repetitionRatio(col("text"))) <= 0.02
    val reached = when(!f1, 0).when(!f2, 1).when(!f3, 2).when(!f4, 3).otherwise(4)
    val byStage = docs(spark, dir)
      .select(reached.as("reached"), nToks.as("n_toks"))
      .groupBy(col("reached"))
      .agg(count(lit(1)).as("c"), sum(col("n_toks")).as("t"))
    val stages = Seq(
      (0, "all"), (1, "lang_en"), (2, "quality"),
      (3, "length"), (4, "repetition")).toDF("stage", "name")
    stages.join(byStage, col("reached") >= col("stage"), "left")
      .groupBy(col("stage"), col("name"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_docs"),
        coalesce(sum(col("t")), lit(0L)).as("n_tokens"))
  }

  private val toksSql =
    """CASE WHEN length(trim(text)) = 0 THEN []
      | ELSE string_split_regex(trim(text), '\s+') END""".stripMargin
  private def swInList(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")
  private val swCountSql =
    s"len(list_filter(list_transform($toksSql, t -> lower(t)), t -> t IN (${swInList(graft.functions.TextFunctions.EnStopwords)})))"
  private val nToksSql = s"len($toksSql)"
  private val shinglesSql =
    s"""CASE WHEN len($toksSql) - 2 <= 0 THEN CAST([] AS VARCHAR[])
       | ELSE list_transform(generate_series(1, len($toksSql) - 2),
       |   i -> array_to_string(($toksSql)[i:i+2], ' ')) END""".stripMargin
  private val punctSql =
    s"""CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
       | ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
       |      / length(regexp_replace(text, '\\s', '', 'g')) END""".stripMargin
  private val swRatioSql =
    s"CASE WHEN $nToksSql = 0 THEN 0.0 ELSE $swCountSql::DOUBLE / $nToksSql END"
  private val mtlSql =
    s"""CASE WHEN $nToksSql = 0 THEN 0.0
       | ELSE list_sum(list_transform($toksSql, t -> length(t)))::DOUBLE / $nToksSql END""".stripMargin

  /** The t2 folded quality score, rounded to 6 dp — shared with the
    * cu1 curation oracle so the threshold there compares the exact
    * value the t2 gate already proves digit-identical cross-engine. */
  private[graft] lazy val quality6Sql: String =
    s"""ROUND(least(1.0, $nToksSql::DOUBLE / 50.0) * 0.3
       |   + (1.0 - $punctSql) * 0.3
       |   + least(1.0, $swRatioSql * 4.0) * 0.2
       |   + (CASE WHEN $mtlSql >= 3.0 AND $mtlSql <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2,
       |  6)""".stripMargin

  private def markerCountSql(words: Seq[String]) =
    s"len(list_filter(list_transform($toksSql, t -> lower(t)), t -> t IN (${swInList(words)})))"

  val oracle: Map[String, String] = {
    val langCounts = LangMarkers.map { case (code, ms) =>
      s"${markerCountSql(ms)} AS c_$code"
    }.mkString(", ")
    val best = "greatest(" + LangMarkers.map { case (c, _) => s"c_$c" }.mkString(", ") + ")"
    val guess = LangMarkers.map(_._1).sorted
      .map(c => s"WHEN c_$c = $best AND $best > 0 THEN '$c'")
      .mkString("CASE ", " ", " ELSE 'und' END")
    // 2-token twin of shinglesSql (the [i:i+1] inclusive slice)
    val shingles2Sql =
      s"""CASE WHEN $nToksSql - 1 <= 0 THEN CAST([] AS VARCHAR[])
         | ELSE list_transform(generate_series(1, $nToksSql - 1),
         |   i -> array_to_string(($toksSql)[i:i+1], ' ')) END""".stripMargin
    Map(
      // rep2: exact integer gram counts, the identical left-assoc
      // n·count/len ratio through the r6 floor-formula on both sides
      "rep2_top_ngram" ->
        s"""WITH g2 AS (SELECT doc_id, unnest($shingles2Sql) AS g FROM documents),
           |c2 AS (SELECT doc_id, MAX(c) AS t2c FROM (
           |   SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
           |g3 AS (SELECT doc_id, unnest($shinglesSql) AS g FROM documents),
           |c3 AS (SELECT doc_id, MAX(c) AS t3c FROM (
           |   SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1)
           |SELECT d.doc_id, CAST($nToksSql AS BIGINT) AS n_tokens,
           |  CAST(COALESCE(t2c, 0) AS BIGINT) AS top2_count,
           |  CASE WHEN $nToksSql > 0 THEN
           |    floor(LEAST(1.0, 2.0 * COALESCE(t2c, 0) / $nToksSql)
           |      * 1000000.0 + 0.5) / 1000000.0 END AS top2_frac6,
           |  CAST(COALESCE(t3c, 0) AS BIGINT) AS top3_count,
           |  CASE WHEN $nToksSql > 0 THEN
           |    floor(LEAST(1.0, 3.0 * COALESCE(t3c, 0) / $nToksSql)
           |      * 1000000.0 + 0.5) / 1000000.0 END AS top3_frac6
           |FROM documents d LEFT JOIN c2 USING (doc_id)
           |LEFT JOIN c3 USING (doc_id)""".stripMargin,
      "t1_token_stats" ->
        s"""SELECT doc_id, n_chars, $nToksSql::BIGINT AS ws_tokens,
           | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
           |FROM documents""".stripMargin,
      // qs1: decile-bucket membership mirrored verbatim (not a raw
      // q >= t float compare) — see the Spark scaladoc
      "qs1_quality_yield" ->
        s"""WITH pd AS (SELECT
           |  LEAST(CAST(floor($quality6Sql * 10.0) AS BIGINT), 9) AS b,
           |  CAST($nToksSql AS BIGINT) AS n_toks FROM documents),
           |bk AS (SELECT b, COUNT(*) AS c,
           |  CAST(SUM(n_toks) AS BIGINT) AS t FROM pd GROUP BY 1),
           |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tc,
           |  CAST(SUM(t) AS BIGINT) AS tt FROM bk),
           |g AS (SELECT unnest(generate_series(0, 9)) AS thr10)
           |SELECT thr10,
           |  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_docs_kept,
           |  CAST(COALESCE(SUM(t), 0) AS BIGINT) AS n_tokens_kept,
           |  floor(CAST(COALESCE(SUM(c), 0) AS DOUBLE) / tc * 1000000.0 + 0.5)
           |    / 1000000.0 AS docs_frac6,
           |  floor(CAST(COALESCE(SUM(t), 0) AS DOUBLE) / tt * 1000000.0 + 0.5)
           |    / 1000000.0 AS tokens_frac6
           |FROM g LEFT JOIN bk ON bk.b >= g.thr10 CROSS JOIN tot
           |GROUP BY thr10, tc, tt""".stripMargin,
      "fc1_filter_cascade" -> {
        val rep6Sql =
          s"""floor((CASE WHEN len($shinglesSql) <= 0 THEN 0.0
             | ELSE 1.0 - len(list_distinct($shinglesSql))::DOUBLE
             |      / len($shinglesSql) END) * 1000000.0 + 0.5) / 1000000.0""".stripMargin
        s"""WITH lc AS (SELECT CAST($nToksSql AS BIGINT) AS n_toks, $langCounts,
           |  $quality6Sql AS q, $rep6Sql AS rep6 FROM documents),
           |fl AS (SELECT n_toks, ($guess) = 'en' AS f1, q >= 0.8 AS f2,
           |  n_toks >= 20 AND n_toks <= 5000 AS f3, rep6 <= 0.02 AS f4 FROM lc),
           |a AS (SELECT
           |  COUNT(*) AS c0, CAST(SUM(n_toks) AS BIGINT) AS t0,
           |  CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           |  CAST(SUM(CASE WHEN f1 THEN n_toks ELSE 0 END) AS BIGINT) AS t1,
           |  CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
           |  CAST(SUM(CASE WHEN f1 AND f2 THEN n_toks ELSE 0 END) AS BIGINT) AS t2,
           |  CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
           |  CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN n_toks ELSE 0 END) AS BIGINT) AS t3,
           |  CAST(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
           |  CAST(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN n_toks ELSE 0 END) AS BIGINT) AS t4
           |  FROM fl)
           |SELECT 0 AS stage, 'all' AS name, c0 AS n_docs, t0 AS n_tokens FROM a
           |UNION ALL SELECT 1, 'lang_en', c1, t1 FROM a
           |UNION ALL SELECT 2, 'quality', c2, t2 FROM a
           |UNION ALL SELECT 3, 'length', c3, t3 FROM a
           |UNION ALL SELECT 4, 'repetition', c4, t4 FROM a""".stripMargin
      },
      "t2_quality" ->
        s"""SELECT doc_id,
           | ROUND($punctSql, 6) AS punct_ratio,
           | ROUND($swRatioSql, 6) AS stopword_ratio,
           | ROUND($mtlSql, 6) AS mean_token_len,
           | $quality6Sql AS quality
           |FROM documents""".stripMargin,
      "t3_lang_id" ->
        s"""SELECT doc_id, $guess AS lang_guess,
           | ${LangMarkers.map { case (c, _) => s"c_$c::BIGINT AS c_$c" }.mkString(", ")}
           |FROM (SELECT doc_id, $langCounts FROM documents)""".stripMargin,
      "t4_fingerprint" ->
        s"""SELECT doc_id,
           | md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+', ' ', 'g')) AS fp_norm,
           | CASE WHEN length(text) - 7 <= 0 THEN NULL
           |  ELSE list_min(list_transform(generate_series(1, length(text) - 7),
           |    i -> md5(substr(text, i::INTEGER, 8)))) END AS fp_rolling
           |FROM documents""".stripMargin,
      "t5_repetition" ->
        s"""SELECT doc_id, len(sh)::BIGINT AS n_grams,
           | len(list_distinct(sh))::BIGINT AS n_distinct,
           | ROUND(CASE WHEN len(sh) <= 0 THEN 0.0
           |   ELSE 1.0 - len(list_distinct(sh))::DOUBLE / len(sh) END, 6) AS rep_ratio
           |FROM (SELECT doc_id, $shinglesSql AS sh FROM documents)""".stripMargin,
      "t7_gopher_rules" -> {
        val lowToks =
          """CASE WHEN length(trim(lower(text))) = 0 THEN []
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        val stopsSum = GopherStops
          .map(w => s"CAST(list_contains(toks, '$w') AS BIGINT)").mkString(" + ")
        s"""WITH d AS (SELECT doc_id, text, $lowToks AS toks FROM documents),
           |m AS (SELECT doc_id,
           |  CAST(len(toks) AS BIGINT) AS n_words,
           |  CASE WHEN len(toks) = 0 THEN 0.0
           |    ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           |         / len(toks) END AS mean_len,
           |  CASE WHEN len(toks) = 0 THEN 0.0
           |    ELSE CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |         / len(toks) END AS alpha_ratio,
           |  CASE WHEN len(toks) = 0 THEN 0.0
           |    ELSE CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
           |         / len(toks) END AS sym_ratio,
           |  CAST($stopsSum AS BIGINT) AS n_stop_kinds
           | FROM d)
           |SELECT doc_id, n_words,
           |  ROUND(mean_len, 6) AS mean_word_len6,
           |  ROUND(alpha_ratio, 6) AS alpha_ratio6,
           |  ROUND(sym_ratio, 6) AS symbol_ratio6,
           |  n_stop_kinds,
           |  (n_words >= 50 AND n_words <= 100000
           |   AND mean_len >= 3.0 AND mean_len <= 10.0
           |   AND sym_ratio <= 0.1 AND alpha_ratio >= 0.8
           |   AND n_stop_kinds >= 2) AS keep
           |FROM m""".stripMargin
      },
      "zipf1_vocab_slope" -> {
        val lowToks =
          """CASE WHEN length(trim(lower(text))) = 0 THEN []
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        s"""WITH d AS (SELECT doc_id, $lowToks AS toks FROM documents),
           |tk AS (SELECT toks[i::INTEGER] AS tok
           |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
           |c AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY 1),
           |r AS (SELECT row_number() OVER (ORDER BY c DESC, tok) AS rn, c FROM c),
           |t AS (SELECT
           |  CAST(floor(ln(CAST(rn AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS xu,
           |  CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS yu
           | FROM r WHERE rn <= 1000),
           |s AS (SELECT COUNT(*) AS n, CAST(SUM(xu) AS BIGINT) AS sx,
           |  CAST(SUM(yu) AS BIGINT) AS sy FROM t),
           |m AS (SELECT n, floor(CAST(sx AS DOUBLE) / n + 0.5) AS xbar,
           |  floor(CAST(sy AS DOUBLE) / n + 0.5) AS ybar FROM s),
           |g AS (SELECT n,
           |  SUM(((CAST(xu AS DOUBLE) - xbar) / 1000000.0)
           |    * ((CAST(yu AS DOUBLE) - ybar) / 1000000.0)) AS sxy,
           |  SUM(((CAST(xu AS DOUBLE) - xbar) / 1000000.0)
           |    * ((CAST(xu AS DOUBLE) - xbar) / 1000000.0)) AS sxx
           | FROM t CROSS JOIN m GROUP BY n)
           |SELECT n AS n_points,
           |  (CASE WHEN CASE WHEN sxx > CAST(0.0 AS DOUBLE)
           |      THEN sxy / sxx END >= 0
           |    THEN floor(CASE WHEN sxx > CAST(0.0 AS DOUBLE)
           |      THEN sxy / sxx END * 1000000.0 + 0.5) / 1000000.0
           |    ELSE -(floor(-(CASE WHEN sxx > CAST(0.0 AS DOUBLE)
           |      THEN sxy / sxx END) * 1000000.0 + 0.5) / 1000000.0) END)
           |    AS slope6
           |FROM g""".stripMargin
      },
      "dq1_source_quality" ->
        s"""WITH q AS (SELECT source, lang, $quality6Sql AS q FROM documents),
           |u AS (SELECT source, lang, q,
           |  CAST(floor(q * 1000000.0 + 0.5) AS BIGINT) AS qu FROM q),
           |g AS (SELECT source, lang, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           |  CAST(SUM(qu) AS BIGINT) AS squ
           | FROM u GROUP BY 1, 2)
           |SELECT source, lang, n_docs, n_keep,
           |  floor(CAST(n_keep AS DOUBLE) / n_docs * 1000000.0 + 0.5)
           |    / 1000000.0 AS keep_rate6,
           |  floor(CAST(squ AS DOUBLE) / n_docs + 0.5) / 1000000.0
           |    AS mean_quality6
           |FROM g""".stripMargin,
      "ov1_vocab_coverage" -> {
        val lowToks =
          """CASE WHEN length(trim(lower(text))) = 0 THEN []
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        s"""WITH d AS (SELECT doc_id, $lowToks AS toks FROM documents),
           |tk AS (SELECT doc_id, toks[i::INTEGER] AS tok
           |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
           |c AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY 1),
           |v AS (SELECT tok FROM (
           |  SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM c)
           |  WHERE rn <= 1000),
           |s AS (SELECT tk.doc_id, COUNT(*) AS n_tokens,
           |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_oov
           | FROM tk LEFT JOIN v ON tk.tok = v.tok GROUP BY 1)
           |SELECT doc_id, n_tokens, n_oov,
           |  floor(CAST(n_oov AS DOUBLE) / n_tokens * 1000000.0 + 0.5)
           |    / 1000000.0 AS oov_rate6
           |FROM s""".stripMargin
      },
      "tf1_tfidf_topterms" -> {
        val lowToks =
          """CASE WHEN length(trim(lower(text))) = 0 THEN []
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        s"""WITH d AS (SELECT doc_id, $lowToks AS toks FROM documents),
           |tk AS (SELECT doc_id, toks[i::INTEGER] AS tok
           |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
           |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
           |dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
           |nn AS (SELECT COUNT(*) AS n FROM documents),
           |s AS (SELECT tf.doc_id, tf.tok, tf.tf, dfc.df,
           |  ROUND(CAST(tf.tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / df), 6)
           |    AS score6
           | FROM tf JOIN dfc USING (tok) CROSS JOIN nn),
           |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY score6 DESC, tok) AS rank FROM s)
           |SELECT doc_id, rank, tok, tf, df, score6
           |FROM r WHERE rank <= 3""".stripMargin
      },
      "t8_unigram_nll" -> {
        val lowToks =
          """CASE WHEN length(trim(lower(text))) = 0 THEN []
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        s"""WITH d AS (SELECT doc_id, $lowToks AS toks FROM documents),
           |tk AS (SELECT doc_id, i AS pos, toks[i::INTEGER] AS tok
           |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
           |c AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
           |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
           |s AS (SELECT doc_id, count(*) AS n,
           |  list_sum(list(-ln(c.c::DOUBLE / tot.total) ORDER BY tk.pos)) AS nll
           | FROM tk JOIN c USING (tok) CROSS JOIN tot GROUP BY doc_id)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           |  ROUND(nll / n, 6) AS nll_mean
           |FROM s""".stripMargin
      },
      "pmi1_collocations" -> {
        val lowToks =
          """CASE WHEN length(trim(lower(text))) = 0 THEN []
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        s"""WITH d AS (SELECT doc_id, $lowToks AS toks FROM documents),
           |tk AS (SELECT doc_id, i AS pos, toks[i::INTEGER] AS tok,
           |    toks[(i + 1)::INTEGER] AS nxt
           |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
           |uni AS (SELECT tok, count(*) AS cu FROM tk GROUP BY 1),
           |bgr AS (SELECT tok, nxt, count(*) AS cb FROM tk
           |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
           |sc AS (SELECT (SELECT count(*) FROM tk) AS n_tok,
           |  (SELECT count(*) FROM tk WHERE nxt IS NOT NULL) AS n_big),
           |s AS (SELECT bgr.tok, bgr.nxt, cb,
           |  ROUND(ln((CAST(cb AS DOUBLE) * n_tok * n_tok)
           |    / (CAST(n_big AS DOUBLE) * a.cu * b.cu)), 6) AS pmi6
           | FROM bgr JOIN uni a ON bgr.tok = a.tok
           |   JOIN uni b ON bgr.nxt = b.tok CROSS JOIN sc
           | WHERE cb >= 5)
           |SELECT row_number() OVER (ORDER BY pmi6 DESC, tok, nxt) AS rank,
           |  tok, nxt, cb, pmi6
           |FROM s ORDER BY pmi6 DESC, tok, nxt LIMIT 20""".stripMargin
      },
      "t11_bigram_nll" -> {
        val lowToks =
          """CASE WHEN length(trim(lower(text))) = 0 THEN []
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        s"""WITH d AS (SELECT doc_id, $lowToks AS toks FROM documents),
           |tk AS (SELECT doc_id, i AS pos, toks[i::INTEGER] AS tok,
           |    toks[(i + 1)::INTEGER] AS nxt
           |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
           |uni AS (SELECT tok, count(*) AS cu FROM tk GROUP BY 1),
           |bg AS (SELECT * FROM tk WHERE nxt IS NOT NULL),
           |big AS (SELECT tok, nxt, count(*) AS cb FROM bg GROUP BY 1, 2),
           |v AS (SELECT count(*) AS v FROM uni),
           |s AS (SELECT doc_id, count(*) AS n,
           |  list_sum(list(-ln((cb + 1)::DOUBLE / (cu + v.v)::DOUBLE)
           |    ORDER BY bg.pos)) AS nll
           | FROM bg JOIN big USING (tok, nxt) JOIN uni USING (tok) CROSS JOIN v
           | GROUP BY doc_id)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
           |  ROUND(nll / n, 6) AS bigram_nll_mean
           |FROM s""".stripMargin
      },
      "t10_kl_divergence" -> {
        val lowToks =
          """CASE WHEN length(trim(lower(text))) = 0 THEN []
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        s"""WITH d AS (SELECT COALESCE(lang = 'en', FALSE) AS it, $lowToks AS toks
           |  FROM documents),
           |tk AS (SELECT it, unnest(toks) AS tok FROM d),
           |c AS (SELECT tok,
           |  CAST(SUM(CASE WHEN it THEN 1 ELSE 0 END) AS BIGINT) AS ct,
           |  CAST(SUM(CASE WHEN it THEN 0 ELSE 1 END) AS BIGINT) AS cr
           | FROM tk GROUP BY 1),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
           |  CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM c),
           |terms AS (SELECT c.tok,
           |  (c.ct + CAST(1.0 AS DOUBLE)) / CAST(tot.tt + tot.v AS DOUBLE) AS p,
           |  (c.cr + CAST(1.0 AS DOUBLE)) / CAST(tot.tr + tot.v AS DOUBLE) AS q
           | FROM c CROSS JOIN tot),
           |kl AS (SELECT list_sum(list(p * ln(p / q) ORDER BY tok)) AS kl FROM terms)
           |SELECT (SELECT v FROM tot) AS n_vocab,
           |  (SELECT tt FROM tot) AS t_tokens,
           |  (SELECT tr FROM tot) AS r_tokens,
           |  ROUND(kl, 6) AS kl6 FROM kl""".stripMargin
      },
      "bm1_bm25" -> {
        val lowToks =
          """CASE WHEN length(trim(lower(text))) = 0 THEN []
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        // constants injected from the same Scala doubles the query
        // uses (1.2+1.0 == 2.2 and 1.0-0.75 == 0.25 exactly in
        // binary64, verified); score terms chained left-to-right in
        // Bm25Terms order with the identical op association
        val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
          s"len(list_filter(toks, x -> x = '$t')) AS tf$i"
        }.mkString(",\n   ")
        val dfCols = Bm25Terms.indices.map(i =>
          s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
          .mkString(", ")
        val contribs = Bm25Terms.indices.map(i =>
          s"""ln(((n - df$i) + 0.5) / (df$i + 0.5) + 1.0)
             |    * ((tf$i * 2.2) / (tf$i + 1.2 * (0.25 + 0.75
             |        * (dl / (CAST(sdl AS DOUBLE) / n)))))""".stripMargin)
          .mkString("\n  + ")
        s"""WITH d AS (SELECT doc_id, $lowToks AS toks FROM documents),
           |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |   $tfCols
           |  FROM d),
           |g AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl, $dfCols FROM m),
           |s AS (SELECT doc_id, dl, ROUND(
           |  $contribs, 6) AS score6
           | FROM m CROSS JOIN g)
           |SELECT doc_id, dl, score6, rank FROM (
           |  SELECT doc_id, dl, score6,
           |    CAST(row_number() OVER (ORDER BY score6 DESC, doc_id) AS INTEGER) AS rank
           |  FROM s)
           |WHERE rank <= 20""".stripMargin
      },
      // identical histogram fold: SORTED distinct chars, (c/len)*ln(c/len)
      // summed left-to-right, counts and ratios exact integers/quotients
      "t9_char_stats" ->
        s"""WITH ch AS (SELECT doc_id, text, length(text) AS len,
           |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
           |  length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
           |  length(regexp_replace(text, '\\s', '', 'g')) AS n_vis,
           |  CASE WHEN length(text) = 0 THEN CAST([] AS VARCHAR[])
           |   ELSE list_transform(generate_series(1, length(text)),
           |     i -> substr(text, i::INTEGER, 1)) END AS chars
           | FROM documents),
           |c AS (SELECT doc_id, len, n_digit, n_upper, n_vis,
           |  list_transform(list_sort(list_distinct(chars)),
           |    u -> len(list_filter(chars, x -> x = u))) AS counts
           | FROM ch),
           |m AS (SELECT doc_id,
           |  CAST(n_digit AS BIGINT) AS n_digits,
           |  CAST(n_upper AS BIGINT) AS n_upper,
           |  CASE WHEN n_vis = 0 THEN 0.0 ELSE n_digit::DOUBLE / n_vis END AS digit_ratio,
           |  CASE WHEN n_vis = 0 THEN 0.0 ELSE n_upper::DOUBLE / n_vis END AS upper_ratio,
           |  CASE WHEN len = 0 THEN 0.0
           |   ELSE -list_sum(list_transform(counts,
           |     c -> (c::DOUBLE / len) * ln(c::DOUBLE / len))) END AS entropy,
           |  CASE WHEN len = 0 THEN 0.0
           |   ELSE list_max(counts)::DOUBLE / len END AS top_frac
           | FROM c)
           |SELECT doc_id, n_digits, n_upper,
           |  ROUND(digit_ratio, 6) AS digit_ratio6,
           |  ROUND(upper_ratio, 6) AS upper_ratio6,
           |  ROUND(entropy, 6) AS char_entropy6,
           |  ROUND(top_frac, 6) AS top_char_frac6,
           |  (ROUND(entropy, 6) >= 2.0 AND ROUND(digit_ratio, 6) <= 0.3
           |   AND ROUND(top_frac, 6) <= 0.25) AS keep
           |FROM m""".stripMargin,
      "t6_pii_scrub" -> {
        // DuckDB single-quoted literals pass backslashes through
        // verbatim, so the Scala pattern strings interpolate as-is
        val email = graft.functions.TextFunctions.EmailRe
        val ssn = graft.functions.TextFunctions.SsnRe
        val ip = graft.functions.TextFunctions.Ipv4Re
        val phone = graft.functions.TextFunctions.PhoneRe
        val addr = graft.functions.TextFunctions.AddressRe
        s"""SELECT doc_id,
           | len(regexp_extract_all(text, '$email'))::BIGINT AS n_emails,
           | len(regexp_extract_all(text, '$ssn'))::BIGINT AS n_ssns,
           | len(regexp_extract_all(text, '$ip'))::BIGINT AS n_ips,
           | len(regexp_extract_all(text, '$phone'))::BIGINT AS n_phones,
           | len(regexp_extract_all(text, '$addr'))::BIGINT AS n_addresses,
           | md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           |   '$email', '<EMAIL>', 'g'),
           |   '$addr', '<ADDR>\\3', 'g'),
           |   '$ssn', '<SSN>', 'g'),
           |   '$ip', '<IP>', 'g'),
           |   '$phone', '<PHONE>', 'g')) AS scrub_md5
           |FROM documents""".stripMargin
      }
    )
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_token_stats" -> (t1TokenStats _),
    "t2_quality" -> (t2Quality _),
    "t3_lang_id" -> (t3LangId _),
    "t4_fingerprint" -> (t4Fingerprint _),
    "t5_repetition" -> (t5Repetition _),
    "rep2_top_ngram" -> (rep2TopNgram _),
    "t6_pii_scrub" -> (t6PiiScrub _),
    "t7_gopher_rules" -> (t7GopherRules _),
    "t8_unigram_nll" -> (t8UnigramNll _),
    "tf1_tfidf_topterms" -> ((s: SparkSession, dir: String) =>
      tf1TfidfTopTerms(s, dir)),
    "ov1_vocab_coverage" -> ((s: SparkSession, dir: String) =>
      ov1VocabCoverage(s, dir)),
    "dq1_source_quality" -> (dq1SourceQuality _),
    "zipf1_vocab_slope" -> ((s: SparkSession, dir: String) =>
      zipf1VocabSlope(s, dir)),
    "t11_bigram_nll" -> (t11BigramNll _),
    "pmi1_collocations" -> ((s: SparkSession, dir: String) => pmi1Collocations(s, dir)),
    "t9_char_stats" -> (t9CharStats _),
    "t10_kl_divergence" -> (t10KlDivergence _),
    "qs1_quality_yield" -> (qs1QualityYield _),
    "fc1_filter_cascade" -> (fc1FilterCascade _),
    "bm1_bm25" -> ((s: SparkSession, dir: String) =>
      bm25TopK(docs(s, dir), Bm25Terms))
  )
}
