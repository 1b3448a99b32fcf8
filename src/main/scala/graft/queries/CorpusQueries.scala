package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.Tables

/**
 * Corpus-preparation operators a large-scale training-data pipeline
 * runs after dedup (north-star extension — no reference counterpart):
 * vocabulary statistics, deterministic train/validation/test
 * splitting, and context-window sequence packing. Everything is
 * hash-deterministic (no rand()) so reruns, retries, and the DuckDB
 * oracle all agree bit-for-bit.
 *
 * Scale posture:
 *  - vocab: explode + hash agg with map-side partial combine — the
 *    shuffle carries one row per (partition × distinct token), then a
 *    global top-k (TakeOrderedAndProject — no full sort of the
 *    vocabulary);
 *  - split: stateless per-row hash → embarrassingly parallel, no
 *    shuffle at all; reproducible across runs/cluster sizes because
 *    the bucket is a pure function of doc_id;
 *  - packing: the greedy concat-and-chunk layout (order documents,
 *    running token cumsum, chunk = cumsum div context) windows WITHIN
 *    a hash shard, so no global sort/single-partition window exists at
 *    any scale — shards pack independently, exactly how a 1000-node
 *    packing job shards its corpus.
 */
object CorpusQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "documents")

  /** 32-bit md5-derived hash of doc_id (decimal value of the first 8
    * md5 hex chars of the decimal string) — the same portable hash
    * family as the dedup layer, exact in both engines. */
  private[graft] def idHash(id: org.apache.spark.sql.Column) =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Corpus vocabulary top-k: token frequency and document frequency,
    * deterministically ordered by (count desc, token). */
  def v1VocabTopK(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(TextFunctions.wsTokens(lower(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Deterministic 80/10/10 train/validation/test split: bucket =
    * hash(doc_id) mod 100. A pure function of the key — stable under
    * reruns, repartitioning, and incremental corpus growth (a doc's
    * split never changes when other docs arrive). */
  def sm1HashSplit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), (idHash(col("doc_id")) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test"))

  /** Deterministic WEIGHTED sampling without replacement (Efraimidis
    * & Spirakis 2006, A-Res): each doc gets key = ln(u)/w with u a
    * deterministic hash-uniform in (0, 1] and w its weight; the k
    * LARGEST keys are exactly a weighted-without-replacement draw.
    * This is the quality-weighted corpus subsampling move (weight by
    * a quality score in production — here n_chars, the column the
    * testdata carries) and the reason the formulation matters at
    * 100 TB: "sample k of N by weight" becomes a stateless projection
    * + TakeOrderedAndProject — no global sort, no rand() (reruns and
    * retried tasks would disagree), O(k) driver state, and a doc's
    * key never changes as the corpus grows.
    *
    * Portability: u = (hash32+1)/2^32 is exact integer arithmetic in
    * double; ln is the one libm call (the m2 precedent — both engines
    * agree on the fixed data; measure-zero exposure), and the rank
    * cut ties only at identical keys (broken by doc_id). */
  def sm3WeightedSample(spark: SparkSession, dir: String, k: Int = 500): DataFrame =
    weightedSample(docs(spark, dir), k)

  /** Generic form of [[sm3WeightedSample]]: `d` must carry doc_id and
    * a positive weight in `n_chars` (falls back to text length when
    * the column is absent). */
  def weightedSample(d: DataFrame, k: Int): DataFrame = {
    val nChars =
      if (d.columns.contains("n_chars")) col("n_chars")
      else length(col("text")).cast("long")
    val u = (idHash(col("doc_id")) + lit(1L)).cast("double") / lit(4294967296.0)
    val w = greatest(nChars, lit(1L)).cast("double")
    d.select(col("doc_id"), nChars.as("n_chars"), (log(u) / w).as("key"))
      .orderBy(col("key").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("key").desc, col("doc_id"))))
      .select(col("doc_id"), col("n_chars"), round(col("key") * 1e6, 6).as("key_ppm"),
        col("rank"))
  }

  /** Deterministic PER-GROUP census sample — exactly k docs per
    * stratum (vs [[sm2StratifiedSample]]'s per-doc keep FRACTION):
    * within each language, keep the k lowest-id-hash documents. The
    * equal-allocation eval-set builder (same budget per stratum no
    * matter how skewed the corpus); membership is a pure function of
    * (doc_id, lang), so the sample is stable under corpus growth
    * except at the hash boundary.
    *
    * Scale shape: one keyed window whose `rank <= k` predicate prunes
    * INSIDE the window operator (WindowGroupLimit — per-partition
    * top-k heaps, never a full per-group sort materialized). */
  def sm4GroupSample(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), idHash(col("doc_id")).as("h"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("lang"), col("h").as("hash32"), col("rank"))
  }

  /** Deterministic STRATIFIED sampling (`sampleBy` without rand()):
    * per-language keep fractions applied via the same hash bucket as
    * the split — membership is a pure function of (doc_id, stratum
    * fraction), so resampling is reproducible and a doc's fate never
    * changes as the corpus grows. Upsampling high-value strata /
    * downsampling boilerplate is the standard corpus-mixing move. */
  def sm2StratifiedSample(
      spark: SparkSession, dir: String,
      fractions: Map[String, Int] = Map("en" -> 80, "de" -> 40),
      defaultPct: Int = 20): DataFrame = {
    val pct = fractions.foldLeft(lit(defaultPct)) { case (acc, (lang, p)) =>
      when(col("lang") === lang, lit(p)).otherwise(acc)
    }
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), (idHash(col("doc_id")) % 100).as("bucket"))
      .where(col("bucket") < pct)
      .select(col("doc_id"), col("lang"))
  }

  /** Greedy sequence packing into fixed token budgets: documents are
    * sharded by hash, ordered by doc_id within shard, and assigned to
    * chunk ⌊exclusive-cumsum / context⌋ — the concat-and-chunk layout
    * LLM pretraining uses. Output is per-chunk occupancy. */
  def pk1SequencePack(
      spark: SparkSession, dir: String,
      context: Int = 512, shards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir)
      .select(col("doc_id"), (idHash(col("doc_id")) % shards).as("shard"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("chunk_id", floor((col("cum") - col("n_tok")) / context))
      .groupBy(col("shard"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
  }

  /** Sliding-window CHUNKER with overlap — the retrieval/embedding
    * prep step (split every document into `window`-token chunks every
    * `stride` tokens, `window - stride` tokens of overlap so no
    * semantic unit is cut without a copy that keeps it whole) that
    * feeds ld1's chunk-hash dedup and the s-family ANN index. Start
    * rule: starts = 0, stride, 2·stride, … while the chunk adds NEW
    * tokens — a tail start `s` with `s + window - stride ≥ n_tokens`
    * would be fully contained in its predecessor and is dropped
    * (coverage is still total: the last kept start satisfies
    * `s ≥ n_tokens - window`). Output one row per chunk: (doc_id,
    * chunk_id, start_tok, n_tokens, chunk) — chunk_id dense 0-based
    * in token order. Empty/whitespace docs produce zero rows.
    *
    * Scale shape: stateless per-row explode — no shuffle at all, the
    * chunker is a scan projection whose output feeds whatever keyed
    * op comes next; the ~window/stride× text amplification is the
    * operator's honest cost and the reason `stride` defaults close to
    * `window`. */
  def ck1ChunkOverlap(
      spark: SparkSession, dir: String,
      window: Int = 40, stride: Int = 30): DataFrame =
    chunkOverlap(docs(spark, dir), window, stride)

  /** [[ck1ChunkOverlap]]'s core over any (doc_id, text) frame. */
  def chunkOverlap(d: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"ck1: need 1 <= stride <= window: window=$window stride=$stride")
    val overlap = window - stride
    // lower() matches the oracle's toksSql (and every sibling operator
    // here) — without it a mixed-case corpus diverges from the twin
    val toks = TextFunctions.wsTokens(lower(col("text")))
    val starts = filter(
      transform(
        sequence(lit(0L), floor((size(col("toks")) - 1) / lit(stride)).cast("long")),
        i => i * stride),
      s => s === 0 || s + lit(overlap) < size(col("toks")).cast("long"))
    d.select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"), posexplode(starts).as(Seq("chunk_id", "s")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("s").as("start_tok"),
        least(lit(window).cast("long"), size(col("toks")) - col("s")).as("n_tokens"),
        array_join(slice(col("toks"), (col("s") + 1).cast("int"), lit(window)), " ")
          .as("chunk"))
  }

  /** Training-mixture domain rebalancing: per-source token mass →
    * inverse-sqrt keep rate → deterministic hash sample — the
    * "temperature sampling" move (heavier domains sampled at lower
    * rates so the mixture flattens) multilingual / multi-source
    * pretraining uses, with the rate a PURE per-domain function
    * rate_bp = min(10000, ⌊10000·scale / √tokens_d⌋) so no global
    * normalization term couples domains (a cross-domain sum of
    * doubles would be accumulation-order-dependent and break the
    * bit-exact oracle twin; √ and ÷ are correctly-rounded IEEE ops,
    * so both engines compute the identical rate from the identical
    * BIGINT token count). Membership is hash(doc_id) mod 10000 <
    * rate_bp — a doc's fate never changes as other domains grow.
    *
    * Scale posture: one map-side-combined agg over source (domain
    * cardinality ≪ corpus), rates broadcast back, stateless filter,
    * second tiny agg — the corpus is never shuffled. Output is one
    * row per source: before/after doc+token counts and the rate.
    */
  def mx1DomainMixture(spark: SparkSession, dir: String, scale: Double = 30.0): DataFrame = {
    val d = docs(spark, dir).select(col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
      (idHash(col("doc_id")) % 10000).as("bucket"))
    val rates = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("rate_bp", least(lit(10000L),
        floor(lit(10000.0) * scale / sqrt(col("n_tokens").cast("double"))).cast("long")))
    d.join(broadcast(rates), Seq("source"))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("n_tokens")).as("n_tokens"),
        first(col("rate_bp")).as("rate_bp"),
        coalesce(sum(when(col("bucket") < col("rate_bp"), 1L)), lit(0L)).as("kept_docs"),
        coalesce(sum(when(col("bucket") < col("rate_bp"), col("n_tok"))), lit(0L))
          .as("kept_tokens"))
  }

  /** Token-BUDGET mixture contract: given a total token budget B,
    * allocate budget_d = B · √tokens_d / Σ√tokens (temperature-0.5
    * shares, the multilingual-pretraining allocation) and sample each
    * domain at rate_bp = min(10000, ⌊10000 · budget_d / tokens_d⌋).
    * Unlike [[mx1DomainMixture]]'s normalization-free rate, this DOES
    * need the cross-domain sum Σ√tokens — made bit-exact across
    * engines by summing in DETERMINISTIC DOMAIN ORDER: a window sum
    * over the domain aggregate ordered by source (Spark) mirrors
    * `list_sum(list(√t ORDER BY source))` (DuckDB), so both engines
    * fold the identical doubles in the identical sequence. The window
    * rides the DOMAIN-cardinality frame (a handful of rows), never
    * the corpus.
    *
    * Same scale posture as mx1: corpus is never shuffled — one
    * map-side-combined agg to domain cardinality, rates broadcast
    * back, stateless membership, tiny final agg.
    */
  def mx2BudgetMixture(
      spark: SparkSession, dir: String, budgetTokens: Double = 8000.0): DataFrame = {
    val d = docs(spark, dir).select(col("source"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
      (idHash(col("doc_id")) % 10000).as("bucket"))
    val byDomain = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("rt", sqrt(col("n_tokens").cast("double")))
    // deterministic-order cross-domain sum: tiny window, fixed fold order
    val w = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = byDomain
      .withColumn("sum_rt", sum(col("rt")).over(w))
      .withColumn("rate_bp", least(lit(10000L),
        floor(lit(10000.0) * budgetTokens * col("rt") / col("sum_rt")
          / col("n_tokens").cast("double")).cast("long")))
      .drop("rt", "sum_rt")
    d.join(broadcast(rates), Seq("source"))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("n_tokens")).as("n_tokens"),
        first(col("rate_bp")).as("rate_bp"),
        coalesce(sum(when(col("bucket") < col("rate_bp"), 1L)), lit(0L)).as("kept_docs"),
        coalesce(sum(when(col("bucket") < col("rate_bp"), col("n_tok"))), lit(0L))
          .as("kept_tokens"))
  }

  /** Length-bucketed batching layout: rank documents by token count
    * (ties broken by doc_id — total order, so bucketing is
    * deterministic) into `buckets` equal-frequency buckets and report
    * per-bucket occupancy — the batch-by-length grouping that keeps
    * padding waste bounded when forming fixed-shape training batches.
    *
    * Matches SQL `ntile(buckets) OVER (ORDER BY n_tok, doc_id)`
    * WITHOUT the corpus-wide single-partition window that form
    * executes as: the global rank decomposes TWICE —
    * rank = (rows with a shorter length)                       [base]
    *      + (same-length rows in a lower doc_id range shard)  [base2]
    *      + row_number within (length, shard), by doc_id.
    * `base` rides a window over the LENGTH HISTOGRAM (one row per
    * distinct token count); `base2` rides per-length windows over at
    * most `idShards` rows each; both broadcast back. The second
    * level exists because real corpora TIE heavily on length — a
    * single dominant token count would put the whole tie group into
    * one `partitionBy(n_tok)` window task; doc_id range sharding
    * (order-preserving, so (n_tok, doc_id) order survives) caps the
    * window partition at ties/idShards. The bucket then follows from
    * ntile's split rule in closed form: the first N mod b buckets
    * take ⌈N/b⌉ rows, the rest ⌊N/b⌋ (N joins in as a broadcast
    * 1-row aggregate — no driver round-trip, no collect).
    */
  def pk2LengthBuckets(
      spark: SparkSession, dir: String, buckets: Int = 8, idShards: Int = 32): DataFrame =
    lengthBuckets(
      docs(spark, dir)
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long").as("n_tok")),
      buckets, idShards)

  /** Frame-based core of [[pk2LengthBuckets]]: (doc_id, n_tok) in,
    * per-bucket occupancy out. The input is materialized once —
    * bounds, total, the shard histogram and the ranked pass are four
    * plan branches that would otherwise each re-scan (and
    * re-tokenize) the corpus. */
  def lengthBuckets(d0: DataFrame, buckets: Int, idShards: Int = 32): DataFrame = {
    val d = graft.dedup.Dedup.materialize(d0)
    // order-preserving doc_id range shard (monotone in doc_id, so the
    // within-length order is unchanged; double precision is fine for
    // monotonicity at any realistic id range). bounds + total ride
    // ONE scalar aggregate (PlanAudit finding: two scalar passes over
    // the materialized frame were one pass of work)
    val bounds = d.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
      count(lit(1)).as("n_total"))
    val dd = d.crossJoin(broadcast(bounds))
      .withColumn("sb",
        when(col("hi") === col("lo"), 0L)
          .otherwise(least(lit(idShards - 1L),
            floor((col("doc_id") - col("lo")).cast("double")
              / (col("hi") - col("lo") + 1) * idShards).cast("long"))))
      .drop("lo", "hi")
    // size-gated barrier (PlanAudit finding): hist2 feeds the
    // shard-prefix pass AND the per-length rollup — histogram-grain
    // output, gated on the (already materialized) input
    val hist2 = graft.Materialize.barrierAbove(
      dd.groupBy(col("n_tok"), col("sb")).agg(count(lit(1)).as("cnt")),
      sizeOf = d)
    // per-length shard prefix: windows over ≤ idShards rows each
    val base2 = hist2.withColumn("before2",
      coalesce(sum(col("cnt")).over(
        Window.partitionBy(col("n_tok")).orderBy(col("sb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_tok"), col("sb"), col("before2"))
    val hist = hist2.groupBy(col("n_tok")).agg(sum(col("cnt")).as("cnt"))
    // histogram-sized window: one row per distinct length
    val base = hist.withColumn("before",
      coalesce(sum(col("cnt")).over(
        Window.orderBy(col("n_tok")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_tok"), col("before"))
    val b = lit(buckets.toLong)
    // n_total rides dd from the merged bounds aggregate — no second
    // scalar pass, no extra crossJoin
    val ranked = dd
      .withColumn("r_in",
        row_number().over(
          Window.partitionBy(col("n_tok"), col("sb")).orderBy(col("doc_id"))).cast("long"))
      .join(broadcast(base2), Seq("n_tok", "sb"))
      .join(broadcast(base), Seq("n_tok"))
      .withColumn("r", col("before") + col("before2") + col("r_in"))
    // ntile split rule: rem = N mod b buckets of size q+1 first
    val q = col("n_total").divide(b).cast("long")
    val rem = col("n_total") % b
    val cut = (q + lit(1L)) * rem // rows covered by the wide buckets
    ranked
      .withColumn("bucket",
        when(col("r") <= cut, (col("r") - 1).divide(q + lit(1L)).cast("long") + 1)
          .otherwise(rem + (col("r") - cut - 1).divide(q).cast("long") + 1))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("sum_tok"))
  }

  /** Approximate, value-based variant of [[lengthBuckets]]: cut
    * points from `approx_percentile` (one in-plan aggregate — no
    * driver action, no window at all), bucket = 1 + (cuts below my
    * length), assigned statelessly per row. Ties on length share a
    * bucket (value-based semantics) and bucket sizes are approximate
    * within the sketch's relative error — the trade for removing
    * even the histogram-sized windows. Use when batch formation needs
    * "similar lengths together" rather than exact equal frequency;
    * the exact form remains the oracle-checked contract. */
  def lengthBucketsApprox(
      d: DataFrame, buckets: Int, accuracy: Int = 10000): DataFrame = {
    val qs = array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)
    val cuts = d.agg(
      percentile_approx(col("n_tok"), qs, lit(accuracy)).as("cuts"))
    d.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        (aggregate(col("cuts"), lit(0L),
          (acc, c) => acc + when(col("n_tok") > c, 1L).otherwise(0L)) + 1L))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("sum_tok"))
  }

  /**
   * DSIR data selection (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): score every document
   * by how target-domain-like its hashed n-gram profile is, and keep
   * the top-k. Features are word bigrams hashed into `buckets`
   * buckets; the per-bucket importance log-ratio is
   * `ln((ct+1)/(Tt+B)) − ln((cr+1)/(Tr+B))` (add-one smoothed target
   * vs raw corpus rates), and a document's weight is the
   * feature-count-weighted sum of log-ratios, reported per-feature
   * (`w_mean`) so magnitudes are length-invariant. Documents with no
   * bigram features (< 2 tokens) carry no evidence and are excluded.
   * Output: the top `topK` rows (doc_id, n_feats, w_mean, rank),
   * ranked by the ROUNDED weight with doc_id tie-break so both
   * engines rank identically (the bm1 argument; ln ulp noise is
   * absorbed by ROUND(,6), and the per-doc sum folds in bucket order
   * on both sides — the t8 position-order-summation argument).
   *
   * Scale posture: one explode pass emits (doc_id, bucket) longs —
   * text never leaves the scan — and feeds BOTH aggregates behind a
   * barrier: per-doc bucket counts (partial-combined exchange keyed
   * (doc_id, b)) and the corpus/target bucket table (B rows, one
   * partial-combined exchange). The log-ratio table is B rows and
   * BROADCAST back; the top-k is sort+limit — Catalyst plans
   * TakeOrderedAndProject (per-partition heaps of k, never a global
   * sort), and the only single-partition step ranks the k survivors.
   *
   * `orderedFold`: the per-doc weight sum folds in bucket order via a
   * sorted collect_list so the DuckDB twin reproduces the float sum
   * bit-for-bit — that determinism costs an ObjectHashAggregate over
   * per-doc struct lists (measured 1.5× the whole-operator wall at 1M
   * docs; SCALE_NOTES round-8 addendum 3). `orderedFold = false` is
   * the production shape: a plain partial-aggregated `sum(n·λ)` —
   * identical modulo float association, one HashAggregate, no lists.
   *
   * `heldOutRaw`: the paper's setup has target and raw as DISJOINT
   * corpora; with `heldOutRaw = true` the raw rates count only
   * NON-target features (target stays the target slice, every doc is
   * still scored), so λ signs are meaningful — positive genuinely
   * means target-like. The default (false) uses the whole corpus as
   * raw: ct ⊆ cr, and smoothing shifts every λ by ln((Tr+B)/(Tt+B)) —
   * ordering unaffected, signs relative.
   */
  def dsirSelect(
      docsDf: DataFrame, isTarget: org.apache.spark.sql.Column,
      buckets: Int = 256, topK: Int = 100,
      orderedFold: Boolean = true,
      heldOutRaw: Boolean = false): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val feats = dsirFeatures(docsDf, isTarget, buckets)
    // one partial-combined aggregate to per-(doc, bucket) counts is
    // the barrier now — it serves BOTH the per-doc weighting and the
    // bucket totals (is_target is constant per doc, so carrying it in
    // the grouping changes nothing), and the gram explosion streams
    // straight into map-side aggregation instead of being checkpointed
    val perDoc = graft.Materialize.barrier(
      feats.groupBy(col("doc_id"), col("is_target"), col("b"))
        .agg(count(lit(1)).as("n")))
    val lam = dsirLambdaFromCounts(perDoc, buckets, heldOutRaw)
    val wAgg =
      if (orderedFold)
        aggregate(
          array_sort(collect_list(struct(col("b"), (col("n") * col("lam")).as("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term"))
      else sum(col("n") * col("lam"))
    val weighted = perDoc.join(lam, Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_feats"), wAgg.as("w"))
      .select(col("doc_id"), col("n_feats"),
        round(col("w") / col("n_feats"), 6).as("w_mean"))
    weighted.orderBy(col("w_mean").desc, col("doc_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("w_mean").desc, col("doc_id"))))
  }

  /** DSIR hashed-bigram feature frame — one row per (doc, bigram):
    * (doc_id, is_target, b). NULL predicate results (e.g. a NULL
    * lang) are NOT target — made explicit so ct/cr agree with the
    * twin under three-valued logic (a NULL is_target would otherwise
    * fall out of BOTH counts on the Spark side but land in cr on the
    * SQL side). Deliberately UN-barriered: [[dsirSelect]] aggregates
    * the explode to per-(doc, bucket) counts first and checkpoints
    * that far smaller frame (see the body comment below). */
  private[graft] def dsirFeatures(
      docsDf: DataFrame, isTarget: org.apache.spark.sql.Column,
      buckets: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docsDf.sparkSession)
    // NO barrier here any more: the former checkpoint materialized the
    // EXPLODED per-gram rows (the corpus's biggest possible frame) to
    // serve two consumers; both consumers are aggregations of the
    // per-(doc, bucket) counts, so [[dsirSelect]] now aggregates FIRST
    // and barriers that far smaller frame instead (guide §2.3:
    // aggregate before you shuffle — and before you checkpoint)
    graft.dedup.Dedup.parallelize(docsDf)
      .select(col("doc_id"), coalesce(isTarget, lit(false)).as("is_target"),
        explode(call_function("graft_shingle_hashes", col("text"), lit(2))).as("g"))
      .select(col("doc_id"), col("is_target"), (col("g") % buckets).as("b"))
  }

  /** The DSIR importance log-ratio table λ(b) from a feature frame —
    * B rows, add-one smoothed; `heldOutRaw` counts only NON-target
    * features in the raw rate (the paper's disjoint-corpora setup).
    * Broadcast by construction (≤ `buckets` rows). Shared by
    * [[dsirSelect]] and the streaming screen
    * ([[graft.streaming.StreamingCorpus.streamingDsirScreen]]), so
    * both paths score with the IDENTICAL table. */
  private[graft] def dsirLambda(
      feats: DataFrame, buckets: Int, heldOutRaw: Boolean): DataFrame =
    dsirLambdaFromCounts(
      feats.groupBy(col("doc_id"), col("is_target"), col("b"))
        .agg(count(lit(1)).as("n")),
      buckets, heldOutRaw)

  /** [[dsirLambda]] over pre-aggregated per-(doc, bucket) gram counts
    * `(doc_id, is_target, b, n)` — the same bucket totals as summing
    * the raw gram rows, on integers, exactly. */
  private[graft] def dsirLambdaFromCounts(
      perDoc: DataFrame, buckets: Int, heldOutRaw: Boolean): DataFrame = {
    val rawCount =
      if (heldOutRaw) sum(when(!col("is_target"), col("n")).otherwise(0L))
      else sum(col("n"))
    // barrier (PlanAudit finding): bucketCounts feeds the totals
    // scalar AND the λ select — without it the upstream counts are
    // re-aggregated twice; ≤ buckets rows
    val bucketCounts = graft.Materialize.barrier(
      perDoc.groupBy(col("b")).agg(
        rawCount.as("cr"),
        sum(when(col("is_target"), col("n")).otherwise(0L)).as("ct")))
    val totals = bucketCounts.agg(
      sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    broadcast(bucketCounts.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct") + lit(1.0)) / (col("tt") + lit(buckets)).cast("double")) -
          log((col("cr") + lit(1.0)) / (col("tr") + lit(buckets)).cast("double"))).as("lam")))
  }

  // --- DuckDB twins -----------------------------------------------------

  /** Decimal value of md5 hex chars [off+1, off+8] — the shared twin
    * of the kernel's 32-bit md5 words (off=0: bytes 0-3; off=8: bytes
    * 4-7). Each digit product stays ≤ 15·16^7 < 2^32, exact in the
    * double list_sum. */
  private[graft] def hexFoldSql(e: String, off: Int = 0): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 8),
       |  i -> (strpos('0123456789abcdef', substr(md5($e), (i + $off)::INTEGER, 1)) - 1)
       |       * power(16, 8 - i))) AS BIGINT)""".stripMargin

  private[graft] def hash32Sql(e: String): String = hexFoldSql(e)

  /** Twin of `ShingleHashKernel.hash63`: `(w1 % 2^31)·2^32 + w0`, all
    * signed-BIGINT arithmetic, max exactly 2^63−1. */
  private[graft] def hash63Sql(e: String): String =
    s"((${hexFoldSql(e, 8)} % 2147483648) * 4294967296 + ${hexFoldSql(e, 0)})"

  private[graft] val idHashSql: String = hash32Sql("CAST(doc_id AS VARCHAR)")

  private val toksSql =
    """CASE WHEN length(trim(lower(text))) = 0 THEN []
      | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin

  val oracle: Map[String, String] = Map(
    // ck1: same token list, same start rule (every stride-th token
    // index, tails adding no new tokens dropped), same 1-based list
    // slice; chunk_id densifies by start order
    "ck1_chunk_overlap" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |st AS (SELECT doc_id, toks,
         |  unnest(CASE WHEN len(toks) > 0
         |    THEN generate_series(0, (len(toks) - 1) // 30)
         |    ELSE CAST([] AS BIGINT[]) END) * 30 AS s FROM tk),
         |ke AS (SELECT doc_id, toks, s FROM st
         |  WHERE s = 0 OR s + 10 < len(toks))
         |SELECT doc_id,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_id,
         |  s AS start_tok,
         |  LEAST(40, len(toks) - s) AS n_tokens,
         |  array_to_string(toks[(s + 1):(s + 40)], ' ') AS chunk
         |FROM ke""".stripMargin,
    "v1_vocab_topk" ->
      s"""SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,
    "sm2_stratified_sample" ->
      s"""SELECT doc_id, lang
         |FROM (SELECT doc_id, lang, $idHashSql % 100 AS bucket FROM documents)
         |WHERE bucket < (CASE WHEN lang = 'en' THEN 80
         |                     WHEN lang = 'de' THEN 40 ELSE 20 END)""".stripMargin,
    // sm3: identical integer hash → identical u; ln is the one libm
    // call (m2 precedent); rank over identical doubles
    "sm3_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, n_chars,
         |  ln(CAST($idHashSql + 1 AS DOUBLE) / CAST(4294967296.0 AS DOUBLE))
         |    / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS key
         | FROM documents)
         |SELECT doc_id, n_chars,
         |  ROUND(key * CAST(1000000.0 AS DOUBLE), 6) AS key_ppm,
         |  CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INTEGER) AS rank
         |FROM d ORDER BY key DESC, doc_id LIMIT 500""".stripMargin,
    // sm4: identical integer hash, identical (h, doc_id) rank order
    "sm4_group_sample" ->
      s"""SELECT doc_id, lang, hash32, rank FROM (
         |  SELECT doc_id, lang, $idHashSql AS hash32,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY $idHashSql, doc_id) AS BIGINT) AS rank
         |  FROM documents)
         |WHERE rank <= 20""".stripMargin,
    "sm1_hash_split" ->
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, $idHashSql % 100 AS bucket FROM documents)""".stripMargin,
    "pk1_sequence_pack" ->
      s"""WITH d AS (SELECT doc_id, $idHashSql % 8 AS shard,
         |  CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
         |           ELSE string_split_regex(trim(text), '\\s+') END) AS BIGINT) AS n_tok
         | FROM documents),
         |c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
         |SELECT shard, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS chunk_id,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc
         |FROM c GROUP BY 1, 2""".stripMargin,
    // rate_bp is the identical IEEE op sequence in both engines:
    // floor(10000.0 * 30.0 / sqrt(BIGINT token sum)) — no
    // accumulation-order-dependent double sum anywhere
    "mx1_domain_mixture" ->
      s"""WITH d AS (SELECT source,
         |  CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
         |           ELSE string_split_regex(trim(text), '\\s+') END) AS BIGINT) AS n_tok,
         |  $idHashSql % 10000 AS bucket
         | FROM documents),
         |r AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  LEAST(CAST(10000 AS BIGINT),
         |    CAST(floor(10000.0 * 30.0 / sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT))
         |    AS rate_bp
         | FROM d GROUP BY 1)
         |SELECT r.source, r.n_docs, r.n_tokens, r.rate_bp,
         |  CAST(COALESCE(SUM(CASE WHEN d.bucket < r.rate_bp THEN 1 END), 0) AS BIGINT)
         |    AS kept_docs,
         |  CAST(COALESCE(SUM(CASE WHEN d.bucket < r.rate_bp THEN d.n_tok END), 0) AS BIGINT)
         |    AS kept_tokens
         |FROM d JOIN r USING (source) GROUP BY 1, 2, 3, 4""".stripMargin,
    // Σ√tokens via list_sum(list(... ORDER BY source)) — the same
    // deterministic fold order as the Spark side's ordered window sum
    "mx2_budget_mixture" ->
      s"""WITH d AS (SELECT source,
         |  CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
         |           ELSE string_split_regex(trim(text), '\\s+') END) AS BIGINT) AS n_tok,
         |  $idHashSql % 10000 AS bucket
         | FROM documents),
         |r0 AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  sqrt(CAST(SUM(n_tok) AS DOUBLE)) AS rt
         | FROM d GROUP BY 1),
         |tot AS (SELECT list_sum(list(rt ORDER BY source)) AS sum_rt FROM r0),
         |r AS (SELECT source, n_docs, n_tokens,
         |  LEAST(CAST(10000 AS BIGINT),
         |    CAST(floor(10000.0 * 8000.0 * rt / sum_rt / CAST(n_tokens AS DOUBLE))
         |      AS BIGINT)) AS rate_bp
         | FROM r0 CROSS JOIN tot)
         |SELECT r.source, r.n_docs, r.n_tokens, r.rate_bp,
         |  CAST(COALESCE(SUM(CASE WHEN d.bucket < r.rate_bp THEN 1 END), 0) AS BIGINT)
         |    AS kept_docs,
         |  CAST(COALESCE(SUM(CASE WHEN d.bucket < r.rate_bp THEN d.n_tok END), 0) AS BIGINT)
         |    AS kept_tokens
         |FROM d JOIN r USING (source) GROUP BY 1, 2, 3, 4""".stripMargin,
    // plain ntile here — the Spark side reproduces its split rule in
    // the distributed decomposition instead
    "pk2_length_buckets" ->
      s"""WITH d AS (SELECT doc_id,
         |  CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
         |           ELSE string_split_regex(trim(text), '\\s+') END) AS BIGINT) AS n_tok
         | FROM documents),
         |t AS (SELECT *, CAST(ntile(8) OVER (ORDER BY n_tok, doc_id) AS BIGINT) AS bucket
         |  FROM d)
         |SELECT bucket, COUNT(*) AS n_docs, MIN(n_tok) AS min_tok,
         |  MAX(n_tok) AS max_tok, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
         |FROM t GROUP BY 1""".stripMargin,
    // ir1: identical bigram hash (raw text, no lower — the dedup-layer
    // tokenization), identical add-one-smoothed log-ratio op sequence,
    // per-doc terms summed in bucket order (the t8 argument), rank on
    // the ROUNDED weight with doc_id tie-break (the bm1 argument)
    "ir1_dsir_select" -> dsirSql(heldOutRaw = false),
    // ir2: the paper's disjoint-corpora setup — raw rates count only
    // NON-target features, so λ signs are meaningful
    "ir2_dsir_heldout" -> dsirSql(heldOutRaw = true)
  )

  /** The DSIR twin, shared by ir1 (whole-corpus raw) and ir2
    * (held-out raw: cr counts only non-target features). */
  private def dsirSql(heldOutRaw: Boolean): String = {
    val crSql =
      if (heldOutRaw) "CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT)"
      else "count(*)"
    s"""WITH b0 AS (SELECT doc_id, lang,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE string_split_regex(trim(text), '\\s+') END AS toks
       |  FROM documents),
       |b1 AS (SELECT doc_id, coalesce(lang = 'en', FALSE) AS is_target,
       |  CASE WHEN len(toks) - 1 <= 0 THEN CAST([] AS VARCHAR[])
       |       ELSE list_transform(generate_series(1, len(toks) - 1),
       |         i -> array_to_string(toks[i:i+1], ' ')) END AS sh
       |  FROM b0),
       |f AS (SELECT doc_id, is_target, ${hash32Sql("s")} % 256 AS b
       |  FROM b1, LATERAL (SELECT unnest(sh) AS s)),
       |pd AS (SELECT doc_id, b, count(*) AS n FROM f GROUP BY 1, 2),
       |bc AS (SELECT b, $crSql AS cr,
       |  CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM f GROUP BY 1),
       |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
       |  CAST(sum(ct) AS BIGINT) AS tt FROM bc),
       |lam AS (SELECT b, ln((ct + 1.0) / (tt + 256)) - ln((cr + 1.0) / (tr + 256))
       |    AS lam FROM bc CROSS JOIN tot),
       |wd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
       |  list_sum(list(n * lam ORDER BY b)) AS w
       |  FROM pd JOIN lam USING (b) GROUP BY doc_id),
       |s AS (SELECT doc_id, n_feats, ROUND(w / n_feats, 6) AS w_mean FROM wd)
       |SELECT doc_id, n_feats, w_mean, rank FROM (
       |  SELECT doc_id, n_feats, w_mean,
       |    CAST(row_number() OVER (ORDER BY w_mean DESC, doc_id) AS INTEGER) AS rank
       |  FROM s) WHERE rank <= 100""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v1_vocab_topk" -> ((s, dir) => v1VocabTopK(s, dir)),
    "sm1_hash_split" -> (sm1HashSplit _),
    "sm2_stratified_sample" -> ((s, dir) => sm2StratifiedSample(s, dir)),
    "sm3_weighted_sample" -> ((s, dir) => sm3WeightedSample(s, dir)),
    "sm4_group_sample" -> ((s, dir) => sm4GroupSample(s, dir)),
    "pk1_sequence_pack" -> ((s, dir) => pk1SequencePack(s, dir)),
    "ck1_chunk_overlap" -> ((s, dir) => ck1ChunkOverlap(s, dir)),
    "mx1_domain_mixture" -> ((s, dir) => mx1DomainMixture(s, dir)),
    "mx2_budget_mixture" -> ((s, dir) => mx2BudgetMixture(s, dir)),
    "pk2_length_buckets" -> ((s, dir) => pk2LengthBuckets(s, dir)),
    // DSIR data selection (Xie et al. 2023): hashed-bigram importance
    // weights, target = the English slice, top-100 by rounded weight
    "ir1_dsir_select" -> ((s, dir) =>
      dsirSelect(docs(s, dir), col("lang") === "en")),
    // held-out raw: the paper's disjoint target/raw estimation
    "ir2_dsir_heldout" -> ((s, dir) =>
      dsirSelect(docs(s, dir), col("lang") === "en", heldOutRaw = true))
  )
}
