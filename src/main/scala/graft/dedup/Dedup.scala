package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, ProjectExec, SparkPlan}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.TextFunctions

/**
 * Deduplication operators for training-data pipelines (north-star
 * extension; no reference counterpart). Four families:
 *
 *  - exact: hash-groupBy on a normalized fingerprint — one shuffle on
 *    the 32-char digest, never on the document body;
 *  - MinHash + LSH: per-row signature/banding (codegen'd array
 *    builtins, no UDF, no shuffle), then a shuffle keyed by (band,
 *    bucket) whose width is the collision count, not N²;
 *  - SimHash: per-row 32-bit signature + banded candidate join; with
 *    4 bands, hamming ≤ 3 detection is exact (pigeonhole);
 *  - exact n-gram Jaccard: inverted-index join on distinct shingles.
 *
 * Scale posture: every candidate-generation path shuffles on a short
 * hash key; document text never enters a shuffle except to verify the
 * (tiny) candidate set. Hash functions are md5-based so every stage
 * has an exact DuckDB twin for the oracle gate.
 */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Word n-gram shingles (default 3), empty array when the document
    * has fewer than n tokens. */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val toks = TextFunctions.wsTokens(text)
    val count = size(toks) - (n - 1)
    // n offset slices zipped pairwise, NOT an index transform with
    // slice(toks, i, n) in the lambda body: interpreted higher-order
    // functions re-evaluate non-lambda-variable subtrees PER ELEMENT,
    // so the index form re-ran the whole tokenizer once per shingle —
    // O(tokens²) per doc (measured 3-5x at sf0.1; the zip form's
    // lambdas touch only their own variables, so toks evaluates n
    // times total). Output strings identical by construction
    // (tok_i .. tok_{i+n-1} joined by one space), proven 0-diff over
    // the corpus before the swap — every hash-gated consumer
    // (minhash/x2/x4/ng1/rep/t5/cr1/sb*) is unchanged.
    val slices = (0 until n).map(j => slice(toks, lit(j + 1), count))
    val zipped = slices.reduce((a, b) =>
      zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    when(count <= 0, array().cast("array<string>")).otherwise(zipped)
  }

  /** 32-bit base hash per shingle: decimal value of the first 8 md5
    * hex chars. ONE md5 per shingle — the k minhash permutations are
    * derived arithmetically from this value, not by re-hashing. */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => conv(substring(md5(s), 1, 8), 16, 10).cast("long"))

  /** Universal-hash modulus (prime > 2^32) and coefficient bound
    * (2^30, so a·d + b stays far below 2^63 — no overflow in either
    * engine's BIGINT). */
  val MinhashP: Long = 4294967311L
  private val CoeffMod = 1073741824L

  /** MinHash signature over pre-hashed shingles: component h is
    * `min((a_h·d + b_h) mod P)`. Coefficients are hoisted to LITERALS
    * at plan-build time (computed by the same arithmetic the DuckDB
    * twin evaluates symbolically) — inside the per-element lambda they
    * would be re-derived for every shingle. Input must be a
    * materialized column (see [[minhashNearDups]] — an inlined
    * expression would be re-evaluated once per component). */
  def minhashSignature(digs: Column, k: Int = 12): Column =
    array((0 until k).map { h =>
      val a = (h.toLong * 2654435761L) % CoeffMod + 1L
      val b = (h.toLong * 40503L + 7L) % CoeffMod
      array_min(transform(digs, d => pmod(lit(a) * d + lit(b), lit(MinhashP))))
    }: _*)

  /** LSH band digests: `bands` groups of `rows` signature components,
    * each digested to one bucket id. Two docs collide in a band iff
    * that slice of their signatures matches exactly. */
  def lshBands(sig: Column, bands: Int = 4, rows: Int = 3): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => md5(concat_ws(":", slice(sig, j * lit(rows) + 1, lit(rows)))))

  /** Ordered within-bucket pairs from a keyed frame: group doc ids per
    * bucket, emit every (a < b) pair of each bucket, dedupe across
    * buckets. One shuffle on the bucket key + the distinct — versus an
    * exploded self-join's two shuffles of the same rows plus the
    * join itself (and its alias-ambiguity trap).
    *
    * Memory posture: the number of output PAIRS is quadratic in bucket
    * width by design (that is the semantics), but no single row or
    * buffer ever holds more than one bucket's id LIST (O(m)):
    * `collect_set` aggregates m ids, the first explode streams one row
    * per id (each carrying the list), and the inner filter+explode
    * streams that id's partners. A hot bucket therefore costs time, not
    * a single-task m²-struct array (the previous formulation built all
    * m²/2 pairs as ONE array value — single-task OOM at 100 TB skew).
    * `collect_set` also drops duplicate ids inside one bucket, so the
    * strict `>` can never emit an (a,a) self-pair even if a caller
    * keys the same doc twice. */
  private[graft] def bucketPairs(keyed: DataFrame, keyCols: String*): DataFrame = {
    keyed
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"),
        explode(filter(col("ids"), b => b > col("doc_a"))).as("doc_b"))
      .distinct()
  }

  /**
   * Skew-proof EXACT variant of [[bucketPairs]] for corpora where one
   * bucket can hold millions of ids (a boilerplate header shingle, a
   * degenerate band value): decompose each bucket's pair space into
   * chunk-pair BLOCKS of bounded size. The sorted id list is sliced
   * into chunks of `block`; every (i ≤ j) chunk pair becomes one task
   * row carrying ≤ 2·block ids, shuffled by (bucket, chunk) — so a
   * bucket of width m fans out to (m/block)²/2 independent tasks
   * instead of one task streaming m² pairs, and no row ever holds
   * more than 2·block ids. Chunks come from a SORTED array, so for
   * i < j every cross pair already satisfies a < b and the same
   * strict-`>` filter used for the diagonal applies uniformly.
   * Output is row-identical to [[bucketPairs]] (property-tested).
   *
   * Cost: two more shuffles than the narrow-bucket path — pay it when
   * hot buckets are possible, not by default.
   */
  private[graft] def bucketPairsBlocked(
      keyed: DataFrame, block: Int, keyCols: String*): DataFrame = {
    require(block >= 1, s"block must be >= 1: $block")
    val key = keyCols.map(col)
    val grouped = keyed
      .groupBy(key: _*)
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .withColumn("nc", ceil(size(col("ids")) / lit(block.toDouble)).cast("int"))
    val chunks = grouped.select(key :+
      col("nc") :+
      posexplode(transform(sequence(lit(0), col("nc") - 1),
        i => slice(col("ids"), i * block + 1, lit(block)))).as(Seq("ci", "cids")): _*)
    // (key, i, j) index rows are tiny; repartitioning happens via the
    // two chunk joins keyed by (key, chunk) — cardinality ≤ nc per key
    val pairsIdx = grouped
      .select(key :+ explode(sequence(lit(0), col("nc") - 1)).as("i") :+ col("nc"): _*)
      .select(key :+ col("i") :+ explode(sequence(col("i"), col("nc") - 1)).as("j"): _*)
    val left = chunks.select(key :+ col("ci").as("i") :+ col("cids").as("ids_a"): _*)
    val right = chunks.select(key :+ col("ci").as("j") :+ col("cids").as("ids_b"): _*)
    pairsIdx
      .join(left, keyCols :+ "i")
      .join(right, keyCols :+ "j")
      .select(explode(col("ids_a")).as("doc_a"), col("ids_b"))
      .select(col("doc_a"),
        explode(filter(col("ids_b"), b => b > col("doc_a"))).as("doc_b"))
      .distinct()
  }

  /** Candidate pairs from band collisions. Input must carry `doc_id`
    * and `bands`. `hotBucketBlock` switches to the blocked skew-proof
    * pair expansion ([[bucketPairsBlocked]]). */
  def bandCandidates(withBands: DataFrame, hotBucketBlock: Option[Int] = None): DataFrame = {
    val keyed = withBands.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "bucket")))
    hotBucketBlock match {
      case Some(b) => bucketPairsBlocked(keyed, b, "band_idx", "bucket")
      case None => bucketPairs(keyed, "band_idx", "bucket")
    }
  }

  /** Exact Jaccard between two shingle arrays, on distinct shingles:
    * |A∩B| / (|A| + |B| − |A∩B|). */
  def jaccard(a: Column, b: Column): Column = {
    val ni = size(array_intersect(a, b)).cast("double")
    val na = size(array_distinct(a))
    val nb = size(array_distinct(b))
    ni / (na + nb - ni)
  }

  /** Sorted distinct 32-bit hash set of a shingle array — the compact
    * per-doc representation the verify stage intersects. Hashing
    * shingles before set ops is the standard trick (the ~2⁻³² pairwise
    * collision rate is negligible, and both engines hash identically
    * so the oracle compare is exact either way). */
  def hashedShingleSet(shingles: Column): Column =
    array_sort(array_distinct(shingleHashes(shingles)))

  /** Jaccard over two sorted hash sets via the native codegen'd
    * two-pointer [[graft.functions.SortedIntersectCount]]. */
  def jaccardHashed(a: Column, b: Column): Column = {
    val ni = call_function("graft_isect", a, b).cast("double")
    ni / (size(a) + size(b) - ni)
  }

  /**
   * MinHash-LSH near-duplicate pairs over `(doc_id, text)`:
   * signature → bands → collision candidates → exact-Jaccard verify.
   * Returns (doc_a, doc_b, jaccard) for pairs with J ≥ threshold.
   */
  /** Round-robin repartition for CPU-bound per-row stages — but ONLY
    * when the plan is under-partitioned: local small-file inputs scan
    * as one split and would serialize the hashing onto one core,
    * while a 100 TB corpus already arrives as tens of thousands of
    * splits — shuffling its full text bodies through an exchange just
    * to rebalance would dominate the job. The count is read off the
    * planned leaf scan (no job); any other input (a join, a union, an
    * aggregate) is left as it is — `Dataset.rdd` would run its
    * adaptive upstream stages at build time and again at the action. */
  private[graft] def parallelize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val n = scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    scanPartitions(df.queryExecution.sparkPlan) match {
      case Some(p) if p < n => df.repartition(n)
      case _ => df
    }
  }

  /** Output partitions of a projection/filter chain over a leaf scan. */
  private def scanPartitions(plan: SparkPlan): Option[Int] = plan match {
    case l: LeafExecNode =>
      Some((if (l.supportsColumnar) l.executeColumnar() else l.execute()).getNumPartitions)
    case _: ProjectExec | _: FilterExec => scanPartitions(plan.children.head)
    case _ => None
  }

  /** Lineage barrier before a Generate/self-join over an expensive
    * expression chain. Three reasons, all measured:
    * (1) InferFiltersFromGenerate derives `size(arr) > 0` from an
    * explode and filter-pushdown INLINES the whole upstream hash
    * pipeline into a per-row scan Filter (observed 25× slowdown);
    * (2) a self-join would otherwise recompute the chain once per
    * side; (3) EAGER, because a lazy checkpoint consumed by several
    * branches of one job races its own cache population and computes
    * partitions multiple times (observed 3×). The eager barrier
    * runs a small job at operator-construction time — a deliberate
    * trade of strict laziness for single evaluation.
    *
    * Fault tolerance is a deployment knob, not hard-coded: see
    * [[graft.Materialize]] (`spark.graft.materialize.mode` selects
    * localCheckpoint / persist(DISK_ONLY_2) / reliable checkpoint). */
  private[graft] def materialize(df: DataFrame): DataFrame =
    graft.Materialize.barrier(df)

  /** Both directions of an undirected pair list in ONE pass: the
    * classic `select(a,b) unionByName select(b,a)` evaluates the pair
    * producer TWICE (each union branch is its own subtree — observed
    * as two full LSH verify-join chains in pr1's plan); exploding a
    * two-element array emits the same rows from a single evaluation
    * (guide §1.2 — don't compute things twice). The exploded array is
    * built from plain columns, so the Generate adds no per-row
    * expression cost and the InferFiltersFromGenerate inlining hazard
    * ([[materialize]] docstring) does not apply. */
  private def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  def minhashNearDups(
      docs: DataFrame,
      threshold: Double = 0.6,
      k: Int = 12,
      bands: Int = 4,
      rows: Int = 3,
      hotBucketBlock: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // Native one-pass kernels (graft_shingle_hashes / graft_minhash,
    // property-tested equal to the composed-Column pipeline that
    // remains the DuckDB oracle twin) replace the interpreted HOF
    // chain. `digs` stays checkpointed: it has THREE consumers (the
    // signature path and both renamed sides of the verify join) —
    // measured at 1M docs, re-hashing per consumer loses to one
    // write+read of the hash expansion (unlike x4's single-extra-
    // consumer inverted index, where the opposite holds).
    val digs = materialize(parallelize(docs)
      .select(col("doc_id"),
        call_function("graft_shingle_hashes", col("text"), lit(3)).as("digs"))
      .where(size(col("digs")) > 0))
    val hsets = digs.select(col("doc_id"), array_sort(array_distinct(col("digs"))).as("hset"))
    val sigs = digs.select(col("doc_id"),
      call_function("graft_minhash", col("digs"), lit(k)).as("sig"))
    val withBands = materialize(
      sigs.select(col("doc_id"), lshBands(col("sig"), bands, rows).as("bands")))
    val cands = bandCandidates(withBands, hotBucketBlock)
    verifyJaccard(cands, hsets, threshold)
  }

  /**
   * Signature-ESTIMATED MinHash near-dup pairs — the screening form a
   * production pipeline runs when shipping the exact hash sets is too
   * expensive: for banding candidates, J(a,b) is estimated as the
   * fraction of equal signature components (the unbiased MinHash
   * estimator, Broder 1997) and a pair is kept when at least `minEq`
   * of the `k` components agree. No shingle-set intersection and no
   * hset shuffle — the verify payload per doc is k longs (96 bytes at
   * k=12) instead of the distinct-shingle set (hundreds of values),
   * which is why large-scale dedup systems screen on signatures and
   * reserve the exact intersection ([[minhashNearDups]]) for the
   * pairs that survive. Estimator sd ≈ √(J(1−J)/k), so k sizes the
   * screen's sharpness.
   *
   * Output: (doc_a, doc_b, n_eq, est_jaccard), n_eq ≥ minEq. The
   * filter compares exact INTEGERS and the estimate is one division
   * of exact integers — the DuckDB twin is digit-identical with no
   * float-margin analysis needed.
   */
  def minhashEstimatePairs(
      docs: DataFrame,
      minEq: Int = 6,
      k: Int = 12,
      bands: Int = 4,
      rows: Int = 3,
      hotBucketBlock: Option[Int] = None): DataFrame = {
    require(minEq >= 0 && minEq <= k, s"minEq must be in [0, k=$k]: $minEq")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val digs = materialize(parallelize(docs)
      .select(col("doc_id"),
        call_function("graft_shingle_hashes", col("text"), lit(3)).as("digs"))
      .where(size(col("digs")) > 0))
    // sigs has three consumers (the banding pass and both renamed
    // sides of the estimate join) — one barrier, same rationale as
    // minhashNearDups' digs
    val sigs = materialize(digs.select(col("doc_id"),
      call_function("graft_minhash", col("digs"), lit(k)).as("sig")))
    val withBands = materialize(
      sigs.select(col("doc_id"), lshBands(col("sig"), bands, rows).as("bands")))
    val cands = bandCandidates(withBands, hotBucketBlock)
    cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("n_eq", aggregate(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v))
      .where(col("n_eq") >= minEq)
      .select(col("doc_a"), col("doc_b"), col("n_eq"),
        round(col("n_eq").cast("double") / lit(k.toDouble), 6).as("est_jaccard"))
  }

  /** 32-bit SimHash over whitespace tokens (with multiplicity): bit b
    * of the signature is set iff Σ_tokens (±1 by bit b of
    * md5-first-8-hex) is positive. Built from conv() — codegen'd, with
    * a strpos-based DuckDB twin. */
  /** Bit b of a non-negative long below 2^52, as portable arithmetic
    * (shift builtins take only literal shift amounts, and the DuckDB
    * twin uses the same floor/power form — exact in double for our
    * 32-bit values). */
  private def bitAt(h: Column, b: Column): Column =
    floor(h / pow(lit(2.0), b)).cast("long") % 2

  /** Per-token 32-bit hashes (decimal value of the first 8 md5 hex
    * chars). Materialize this as its own column before calling
    * [[simhashFromHashes]] — inlining it under the 32-bit fold makes
    * the optimizer re-evaluate every token md5 once per bit (32×). */
  def tokenHashes(text: Column): Column =
    transform(TextFunctions.wsTokens(text),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))

  def simhashFromHashes(hashes: Column): Column = {
    val bits = sequence(lit(0), lit(31))
    aggregate(
      bits,
      lit(0L),
      (acc, b) => {
        val bitSum = aggregate(hashes, lit(0L),
          (s, h) => s + when(bitAt(h, b) === 1, 1L).otherwise(-1L))
        acc + when(bitSum > 0, pow(lit(2.0), b).cast("long")).otherwise(0L)
      })
  }

  /** Single-chunk banding: `nBands/2` chunks of `64/nBands` bits per
    * 32-bit word, low chunks first. Exact for hamming ≤ nBands − 1. */
  private def simhashNaiveBands(lo: Column, hi: Column, nBands: Int): Column = {
    val perWord = nBands / 2
    val width = 32 / perWord
    val scale = 1L << width
    array(Seq(lo, hi).flatMap { w =>
      (0 until perWord).map { i =>
        pmod(floor(w / math.pow(2.0, i * width)).cast("long"), lit(scale))
      }
    }: _*)
  }

  /**
   * The banding array for a split-word signature, exact for hamming ≤
   * `maxHamming` by pigeonhole. Three regimes:
   *
   *  - h ≤ 3: 4 single chunks of 16 bits (h flips touch ≤ h chunks, so
   *    ≥ 1 of 4 is clean). 16-bit keys keep buckets narrow even on
   *    correlated real-text signatures.
   *  - 4 ≤ h ≤ 7: the Manku et al. (WWW'07) multi-block table
   *    construction — 8 chunks of 8 bits, one band per COMBINATION of
   *    r = 8 − h chunks, bucket = the r chunk values packed into one
   *    8r-bit integer. ≤ h flips touch ≤ h chunks, leaving ≥ r clean,
   *    so some r-combination is entirely clean. Single 8-bit chunks
   *    (the naive B = h+1 banding) collapse on real text — simhash
   *    bits are correlated, and measured at 5k docs an 8-bit band
   *    admits 32% of N² as candidates; 24-bit combination keys
   *    (h = 5) cut that 29× at identical recall. C(8, r) ≤ 70 bands,
   *    keys ≤ 32 bits — all arithmetic stays below 2^63.
   *  - h ≥ 8: single chunks from the smallest even divisor of 64 with
   *    ≥ h+1 bands (combination tables would need C(16, r) entries).
   *    Candidates approach all-pairs in this regime — the honest tool
   *    is [[ngramJaccardPairs]] or MinHash at a lower threshold.
   */
  private[graft] def simhashBands(lo: Column, hi: Column, maxHamming: Int): Column = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    if (maxHamming <= 3) simhashNaiveBands(lo, hi, 4)
    else if (maxHamming <= 7) {
      val r = 8 - maxHamming
      val chunk: Int => Column = i => {
        val w = if (i < 4) lo else hi
        pmod(floor(w / math.pow(2.0, 8 * (i % 4))).cast("long"), lit(256L))
      }
      array((0 until 8).combinations(r).toSeq.map { combo =>
        combo.zipWithIndex.map { case (i, k) => chunk(i) * lit(1L << (8 * k)) }
          .reduce(_ + _)
      }: _*)
    } else {
      simhashNaiveBands(lo, hi,
        Seq(16, 32, 64).find(_ >= maxHamming + 1).get)
    }
  }

  /** 64-bit SimHash near-duplicate pairs (Manku et al., WWW'07): the
    * native one-pass `graft_simhash64` signature as two 32-bit words
    * [lo, hi], banded for candidates, verified with bit_count(xor).
    * Returns (doc_a, doc_b, hamming ≤ maxHamming).
    *
    * EXACT for any `maxHamming` ≤ 63: [[simhashBands]] picks a banding
    * whose candidate set provably covers every pair at that radius —
    * single 16-bit chunks to hamming 3, Manku r-of-8 combination
    * tables to hamming 7, wide single-chunk banding past that (see
    * its scaladoc for the pigeonhole arguments and measured candidate
    * rates). The previous fixed-4-band form was exact only to
    * hamming 3 and silently lossy past it.
    *
    * Why 64-bit signatures: at corpus scale a 32-bit signature
    * saturates (birthday bound pushes random pairs to small hamming
    * distances). The split-word form keeps all arithmetic below 2^32,
    * so the DuckDB twin needs no unsigned 64-bit math. */
  def simhashNearDups(
      docs: DataFrame, maxHamming: Int = 3,
      hotBucketBlock: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sigs = parallelize(docs).select(col("doc_id"),
      call_function("graft_simhash64", col("text")).as("sig"))
    simhashNearDupsFromSigs(
      sigs.select(col("doc_id"),
        col("sig").getItem(0).as("lo"), col("sig").getItem(1).as("hi")),
      maxHamming, hotBucketBlock)
  }

  /** [[simhashNearDups]] over precomputed split-word signatures
    * `(doc_id, lo, hi)` — also the entry point for signature stores
    * that persist sigs once and re-band at query time. */
  def simhashNearDupsFromSigs(
      sigs: DataFrame, maxHamming: Int = 3,
      hotBucketBlock: Option[Int] = None): DataFrame = {
    val banded = materialize(sigs
      .withColumn("bands", simhashBands(col("lo"), col("hi"), maxHamming)))
    val cands = bandCandidates(banded.select(col("doc_id"), col("bands")), hotBucketBlock)
    // verify: hamming distance from the (tiny) per-doc signature frame
    val sa = banded.select(col("doc_id").as("doc_a"), col("lo").as("lo_a"), col("hi").as("hi_a"))
    val sb = banded.select(col("doc_id").as("doc_b"), col("lo").as("lo_b"), col("hi").as("hi_b"))
    cands
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Exact n-gram Jaccard near-dups with PREFIX FILTERING (the
   * PPJoin-family bound): order each document's distinct shingles by
   * global rarity (document frequency, then shingle), index only the
   * first `|S| − ⌈t·|S|⌉ + 1` of them, and join on those. Any pair
   * with J ≥ t must share a prefix shingle under a common total
   * order, so the candidate set is a superset of the answer — and it
   * excludes the high-frequency shingles that make a naive
   * inverted-index self-join quadratic. Candidates are then verified
   * with the exact set Jaccard. No approximation in the result.
   */
  def ngramJaccardPairs(
      docs: DataFrame, threshold: Double = 0.5,
      hotBucketBlock: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val hsets = materialize(parallelize(docs)
      .select(col("doc_id"),
        call_function("graft_shingle_hashes", col("text"), lit(3)).as("digs"))
      .where(size(col("digs")) > 0)
      .select(col("doc_id"), array_sort(array_distinct(col("digs"))).as("hset")))
    // no barrier on the inverted index: its source `hsets` is already
    // a checkpoint, so the explode recomputes from columnar cache in
    // both consumers (docFreq + the prefix join) — cheaper than
    // writing/re-reading the 57-rows-per-doc expansion (measured at
    // 1M docs), and the Generate sits directly on a checkpoint scan so
    // there is no expression chain for inferred filters to inline.
    val inv = hsets.select(col("doc_id"), size(col("hset")).as("n_sh"),
      explode(col("hset")).as("sh"))
    val docFreq = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    // single consumer (the bucket grouping) — no barrier needed
    val prefix = inv.join(docFreq, Seq("sh"))
      .withColumn("rk", row_number().over(wRank))
      .where(col("rk") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("doc_id"), col("sh"))
    val cands = hotBucketBlock match {
      case Some(b) => bucketPairsBlocked(prefix, b, "sh")
      case None => bucketPairs(prefix, "sh")
    }
    verifyJaccard(cands, hsets, threshold)
  }

  /**
   * ASYMMETRIC containment dedup: directed pairs where
   * `C(A→B) = |A∩B| / |A| ≥ threshold` — the wire-copy/quote/superset
   * relation Jaccard misses entirely (a short article fully contained
   * in a long one has HIGH containment but LOW Jaccard, so symmetric
   * near-dup passes never flag it). Returns
   * (doc_a, doc_b, containment6) with doc_a the CONTAINED side.
   *
   * Candidates use the containment-adapted prefix filter: any B
   * holding ≥ t·|A| of A's shingles must hold at least one of A's
   * first `|A| − ⌈t·|A|⌉ + 1` shingles in the global
   * (document-frequency ASC, shingle) order — so A's prefix (built
   * from its RAREST shingles) joins against the FULL inverted index
   * on the B side; rare-shingle keys keep the join bounded exactly as
   * in [[ngramJaccardPairs]], and the verify is the exact codegen'd
   * intersection over sorted hash sets. One-directional by
   * construction (B's prefix never enters the join), so both
   * directions of a mutual pair are found independently — mutual
   * containment ⇒ two rows.
   */
  def containmentPairs(
      docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1]: $threshold")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val hsets = materialize(parallelize(docs)
      .select(col("doc_id"),
        call_function("graft_shingle_hashes", col("text"), lit(3)).as("digs"))
      .where(size(col("digs")) > 0)
      .select(col("doc_id"), array_sort(array_distinct(col("digs"))).as("hset")))
    val inv = hsets.select(col("doc_id"), size(col("hset")).as("n_sh"),
      explode(col("hset")).as("sh"))
    val docFreq = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val prefixA = inv.join(docFreq, Seq("sh"))
      .withColumn("rk", row_number().over(wRank))
      .where(col("rk") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("doc_id").as("doc_a"), col("sh"))
    val cands = prefixA
      .join(inv.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
      .where(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val sa = hsets.select(col("doc_id").as("doc_a"), col("hset").as("hset_a"))
    val sb = hsets.select(col("doc_id").as("doc_b"), col("hset").as("hset_b"))
    cands
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b"))
      .withColumn("c",
        call_function("graft_isect", col("hset_a"), col("hset_b")).cast("double")
          / size(col("hset_a")))
      .where(col("c") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("c"), 6).as("containment6"))
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    * against per-doc sorted hash sets (column `hset`); shared by the
    * LSH and prefix-filter candidate generators. Renamed copies avoid
    * self-join ambiguity. */
  private def verifyJaccard(
      cands: DataFrame, hsets: DataFrame, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(hsets.sparkSession)
    val sa = hsets.select(col("doc_id").as("doc_a"), col("hset").as("hset_a"))
    val sb = hsets.select(col("doc_id").as("doc_b"), col("hset").as("hset_b"))
    cands
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b"))
      .withColumn("j", jaccardHashed(col("hset_a"), col("hset_b")))
      .where(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
  }

  /** min-label rounds the `auto` strategy runs before contracting and
    * switching to stars (default 6: cliques converge in 2-3 and never
    * switch; path-halving on pathological shapes runs 10-15). */
  val CcAutoSwitchRoundsKey = "spark.graft.dedup.ccAutoSwitchRounds"

  /**
   * Connected-component cluster assignment over near-dup PAIRS — the
   * step that turns pairwise dedup output into per-document cluster
   * ids (keep one canonical doc per component). Min-label propagation
   * WITH path halving: every doc starts labeled with its own id; each
   * round every doc takes the min of (its label, its neighbors'
   * labels, its label's label). Fixpoint = component-minimum id —
   * deterministic integer math, so the DuckDB transitive-closure twin
   * matches exactly.
   *
   * The pointer-jumping term is what makes long chains scale: labels
   * are always doc ids, so `label(label(x))` is well-defined and
   * monotone non-increasing, and composing it with the neighbor min
   * doubles the propagation horizon per round — O(log d) rounds on a
   * diameter-d component (measured: chains of diameter 255/1023
   * converge in 10/12 rounds; pure neighbor-min needs d). Same
   * fixpoint, same result
   * (the label-propagation family analyzed in Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14 — this is
   * min-propagation + path halving, the two-join cousin of their
   * large-star/small-star).
   *
   * Scale posture: each round is two shuffle joins (edges ⋈ labels on
   * doc id; labels ⋈ labels for the jump) + one partial-combining min
   * aggregation, all keyed by doc id — no driver state beyond one
   * convergence scalar. Dedup graphs are usually dense cliques (2-3
   * rounds either way); the jump is insurance for chain-shaped
   * components at planetary scale. The label frame is materialized
   * per round to keep lineage flat (fault-tolerance knob:
   * [[graft.Materialize]]). Convergence is detected by the label SUM,
   * which strictly decreases until fixpoint — one cheap scalar action
   * per round instead of a change-count join.
   *
   * Strategy: `auto` ([[clustersAutoWithRounds]]) — the min-label
   * rounds above, capped, then large-star/small-star on the
   * label-contracted root graph: identical to pure min-label on
   * fast-converging dedup cliques, capped round counts on chain-/
   * random-giant shapes. The pure strategies ([[clustersWithRounds]],
   * [[clustersViaStarsWithRounds]]) stay as the references it is
   * property-tested against (CorpusSpec).
   */
  def dedupClusters(docs: DataFrame, pairs: DataFrame): DataFrame =
    clustersAutoWithRounds(docs, pairs)._1

  /** Pure min-label propagation + the number of rounds it took
    * (exposed for the convergence tests and scale smokes). */
  private[graft] def clustersWithRounds(docs: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    // pinned on dst above the gate — the per-round neighbor join's
    // key — so at scale the edge list (the biggest frame in the job)
    // shuffles+sorts ONCE, not once per min-label round (guide §2.4);
    // docs carries the real stats (see persistPartitionedAbove)
    val sym = graft.Materialize.persistPartitionedAbove(
      symmetrize(pairs), "dst", sizeOf = docs)
    val (labels, rounds, _) = minLabelLoop(docs, sym, Int.MaxValue)
    (finishAssignment(labels, Some(docs)), rounds)
  }

  /** The min-label + path-halving rounds, capped at `maxRounds`:
    * returns (labels, rounds run, converged?). Convergence is the
    * label-sum fixpoint (strictly decreasing until stable); at the
    * cap the labels are a valid WITHIN-COMPONENT upper bound (every
    * label is a component member's id, and the component minimum
    * always labels itself), which is exactly what the `auto`
    * strategy's contraction needs. */
  private def minLabelLoop(docs: DataFrame, sym: DataFrame,
      maxRounds: Int): (DataFrame, Int, Boolean) = {
    // label-sum fixpoint in DECIMAL(38,0): ids may be hash-derived
    // 63-bit longs, so a plain Long sum over the corpus can overflow —
    // throwing under ANSI and weakening the certificate to equality
    // mod 2^64 otherwise (ADVICE r19)
    def labelSum(l: DataFrame): java.math.BigDecimal = {
      val r = l.agg(sum(col("cluster_id").cast(DecimalType(38, 0)))).head
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    // round barrier + convergence scalar in ONE action: labels has
    // THREE consumers per round, and the label sum is the single-
    // branch action that materializes the barrier's blocks (guide
    // §1.2: per-round fixed work is the multiplier here)
    def roundBarrier(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val p = graft.Materialize.roundBarrier(df)
      (p, labelSum(p))
    }
    var (labels, curSum) = roundBarrier(
      docs.select(col("doc_id"), col("doc_id").as("cluster_id")))
    var prevSum: java.math.BigDecimal = null
    var rounds = 0
    while (curSum != prevSum && rounds < maxRounds) {
      val neigh = sym
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("nl")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nl")).as("nmin"))
      // path halving: follow the label pointer one hop (labels are doc
      // ids, so this is a self-join on the label frame). Round 1 skips
      // the jump outright: labels is the identity assignment
      // (cluster_id == doc_id), so the hop maps every label to itself
      // — the join is provably a no-op and costs two exchanges
      // (guide §2.4: remove shuffles the data proves unnecessary).
      val jumped =
        if (rounds == 0) labels
        else labels
          .join(labels.select(col("doc_id").as("cluster_id"), col("cluster_id").as("jl")),
            Seq("cluster_id"), "left")
          .select(col("doc_id"), least(col("cluster_id"), coalesce(col("jl"), col("cluster_id")))
            .as("cluster_id"))
      val (next, nextSum) = roundBarrier(
        jumped.join(neigh, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id")))
      labels = next
      prevSum = curSum
      curSum = nextSum
      rounds += 1
    }
    (labels, rounds, curSum == prevSum)
  }

  /** The `auto` strategy: min-label rounds up to
    * [[CcAutoSwitchRoundsKey]] (default 6); if unconverged, contract
    * the graph to the CURRENT labels and finish with
    * large-star/small-star on the root graph. Dense dedup cliques
    * converge in 2-3 min-label rounds and never switch (auto ==
    * minlabel there, including the round count); chain-/random-giant
    * shapes — whose min-label wall is round-count-dominated — pay one
    * extra corpus-wide contraction join and then run the
    * round-efficient alternation on the (usually much smaller)
    * contracted graph.
    *
    * Exactness: after ANY number of min-label rounds, every label is
    * a member of its node's component with label <= id, and the
    * component minimum m labels itself (its neighbors' labels are
    * component ids >= m, so the min never moves it). Contracting
    * every node to its label therefore merges only within-component
    * subsets, components survive 1:1, and m is a root of its
    * contracted component — the stars fixpoint over the root graph is
    * exactly {root -> m}, and composing it through the label map
    * yields the same component-minimum assignment as either pure
    * strategy (property-tested). */
  private[graft] def clustersAutoWithRounds(
      docs: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    val (df, corpusRounds, contractedIters) = clustersAutoWithRoundsSplit(docs, pairs)
    (df, corpusRounds + contractedIters)
  }

  /** [[clustersAutoWithRounds]] with the counters split: (assignment,
    * CORPUS-WIDE min-label rounds incl. the contraction pass, stars
    * iterations on the contracted root graph). The first counter is
    * the scale-relevant one — it is capped at switchRounds + 1; the
    * contracted iterations run on the (usually far smaller) root
    * graph. */
  private[graft] def clustersAutoWithRoundsSplit(
      docs: DataFrame, pairs: DataFrame): (DataFrame, Int, Int) = {
    val spark = docs.sparkSession
    val switchRounds = math.max(1,
      spark.conf.get(CcAutoSwitchRoundsKey, "6").toInt)
    // pinned on dst above the gate — the per-round neighbor join's
    // key — so at scale the edge list (the biggest frame in the job)
    // shuffles+sorts ONCE, not once per min-label round (guide §2.4);
    // docs carries the real stats (see persistPartitionedAbove)
    val sym = graft.Materialize.persistPartitionedAbove(
      symmetrize(pairs), "dst", sizeOf = docs)
    val (labels, rounds, converged) = minLabelLoop(docs, sym, switchRounds)
    if (converged) (finishAssignment(labels, Some(docs)), rounds, 0)
    else {
      val rootEdges = sym
        .join(labels.select(col("doc_id").as("src"), col("cluster_id").as("doc_a")),
          Seq("src"))
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("doc_b")),
          Seq("dst"))
        .select(col("doc_a"), col("doc_b"))
        .where(col("doc_a") =!= col("doc_b"))
      val rootDocs = labels.select(col("cluster_id").as("doc_id")).distinct()
      val (rootAssign, iters) = clustersViaStarsWithRounds(rootDocs, rootEdges)
      val remap = rootAssign
        .select(col("doc_id").as("old_root"), col("cluster_id").as("final_root"))
      // the remap side is the ROOT table — broadcast it when bounded
      // (≤ maxBroadcastRoots ≈ 80 MB) so the corpus-side labels never
      // shuffle for the remap at all, and in particular the giant
      // component's root key never sorts one task (guide §2.5/§3.1;
      // the 100M-edge smoke measured the shuffle form at 22.3 s with
      // a 19.5 s hot task, the broadcast form at 1.4 s). Above the
      // bound, fall back to the shuffle join — loudly, naming the
      // skew risk.
      val nRoots = rootDocs.count()
      val remapJoined =
        if (nRoots <= maxBroadcastRoots)
          labels.join(broadcast(remap), labels("cluster_id") === remap("old_root"))
        else {
          log.warn(s"auto contraction remap: $nRoots roots exceed " +
            s"maxBroadcastRoots=$maxBroadcastRoots — falling back to a shuffle " +
            "join keyed on cluster_id; a giant component's root is a hot key " +
            "and can straggle the remap stage")
          labels.join(remap, labels("cluster_id") === remap("old_root"))
        }
      val fin = remapJoined.select(col("doc_id"), col("final_root").as("cluster_id"))
      // the contraction joins are one corpus-wide pass
      (finishAssignment(fin, Some(docs)), rounds + 1, iters)
    }
  }

  /** Row threshold above which a group key counts as HOT for
    * [[withGroupSizes]] (default 4M members). */
  val HotClusterRowsKey = "spark.graft.dedup.hotClusterRows"

  /** Root-table bound under which the `auto` strategy's contraction
    * remap broadcasts instead of shuffle-joining the corpus-side
    * labels (~80 MB at 16 B/row — the [[maxDriverFoldEdges]] size
    * class). */
  val maxBroadcastRoots: Long = 5000000L

  /**
   * Group-size attachment with a HOT/COLD SPLIT (guide §2.5 — split
   * hot keys): `rows ⋈ (rows groupBy key count)` is the clustering
   * tails' shape, and on a skewed assignment the giant component's
   * key sorts its whole row block in ONE task of the sort-merge join
   * (measured in the 100M-edge smoke: 17.7 s hot task vs 0.4 s mean;
   * AQE's skew split did not fire). Here keys with ≥
   * [[HotClusterRowsKey]] members (default 4M) ride a BROADCAST join
   * — by pigeonhole there are at most n/threshold of them, so the
   * collected hot list is driver-safe at ANY corpus size — and cold
   * keys keep the shuffle join with every key row-bounded below the
   * threshold, making the straggler contract hold by construction.
   *
   * Small inputs keep the old single-join plan with zero extra jobs:
   * a frame whose estimated size is under 16·threshold BYTES cannot
   * hold `threshold` rows of any key (rows here carry at least two
   * longs), so the hot probe is provably empty and skipped.
   *
   * Output: `rows` columns + `sizeCol`, row set identical to the
   * plain join (hot ∪ cold partitions the key space; property-tested
   * across thresholds in CorpusSpec).
   */
  private[graft] def withGroupSizes(
      rows: DataFrame, key: String, sizeCol: String,
      sizeHint: Option[DataFrame] = None): DataFrame = {
    val spark = rows.sparkSession
    val threshold = scala.util.Try(
      spark.conf.get(HotClusterRowsKey).toLong).getOrElse(4000000L)
    // size attach as a WINDOW count, not groupBy+join-back (the cu2
    // argmax precedent, guide §2.4): one exchange of the rows + a
    // partition-local sort, versus the join's aggregate exchange PLUS
    // a second full-row exchange once the per-key count table is too
    // wide to broadcast (mostly-singleton clusters ⇒ ~N keys at
    // scale). Identical integers — count over the whole partition IS
    // the group count. Per-group window buffering is bounded by the
    // same hot/cold contract that bounds the join's sort: cold keys
    // hold < threshold rows by construction.
    def sizesByWindow(df: DataFrame) = df.withColumn(sizeCol,
      count(lit(1)).over(Window.partitionBy(col(key))))
    def plain = sizesByWindow(rows)
    // gate on the hint frame when given: `rows` is usually a
    // checkpointed label table whose LogicalRDD stats are the
    // don't-know default (forcing the probe), while the caller's
    // source frame (a scan) carries file-size stats that proxy the
    // label row count. The gate is a PERF heuristic only — either
    // branch returns the identical row set — so an estimate miss
    // costs a probe job or a missed hot key, never correctness
    val statsOf = sizeHint.getOrElse(rows)
    val cannotBeHot =
      statsOf.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(16L) * threshold
    if (cannotBeHot) plain
    else {
      // barrier the input ONCE before the hot machinery: the probe,
      // the hot join, the anti-join and the cold recount are four
      // consumers of `rows`, and in the auto-contraction /
      // incremental paths `rows` arrives un-barriered (the corpus-wide
      // remap join) — without this the upstream re-runs per consumer,
      // and a nondeterministic input could even land rows in
      // neither/both branches (ADVICE r20). Never taken at bench SF
      // (the gate above short-circuits), so zero local cost.
      val rowsB = graft.Materialize.barrier(rows)
      val hot = rowsB.groupBy(col(key)).agg(count(lit(1)).as(sizeCol))
        .where(col(sizeCol) >= threshold)
      val hotRows = hot.collect() // pigeonhole-bounded: ≤ n/threshold rows
      if (hotRows.isEmpty)
        sizesByWindow(rowsB)
      else {
        import scala.jdk.CollectionConverters._
        val hotDf = spark.createDataFrame(hotRows.toSeq.asJava, hot.schema)
        val hotPart = rowsB.join(broadcast(hotDf), Seq(key))
        // no cold barrier needed any more: the window form gives the
        // anti-join exactly ONE consumer (the r20-era agg+join-back
        // had two, which forced a checkpoint — VERDICT r20 finding 3);
        // rowsB above stays barriered for the probe/hot/cold fan-out
        val coldPart = sizesByWindow(rowsB.join(
          broadcast(hotDf.select(col(key))), Seq(key), "left_anti"))
        hotPart.unionByName(coldPart)
      }
    }
  }

  /** Shared tail of the clustering strategies: component sizes + the
    * canonical flag over a (doc_id, cluster_id) fixpoint. Sizes
    * attach via the hot/cold split — the giant-component key never
    * sorts in one task. */
  private def finishAssignment(
      labels: DataFrame, sizeHint: Option[DataFrame] = None): DataFrame =
    withGroupSizes(labels, "cluster_id", "cluster_size", sizeHint)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))

  /**
   * Large-star/small-star alternation (Kiveris et al., "Connected
   * Components in MapReduce and Beyond", SoCC'14 §3) — the second
   * phase of [[dedupClusters]]'s `auto` strategy. One iteration is
   * two phases over the canonical undirected edge list (a < b,
   * distinct):
   *
   *  - large-star: every node attaches each LARGER neighbor to the
   *    minimum of its closed neighborhood;
   *  - small-star: every node attaches its smaller neighbors (and
   *    itself) to the minimum of that side.
   *
   * Edges contract toward component minima two hops per iteration, so
   * chain-shaped and random-giant components converge in roughly half
   * the rounds min-label propagation needs; the converged state is
   * exactly the star set {(component min, member)} (the paper's
   * Theorem 2), read off as the assignment directly.
   *
   * Convergence proof per scalar action: the (Σ endpoints, edge
   * count) signature is monotone non-increasing per phase and
   * unchanged IFF the phase was a no-op — each phase maps each input
   * edge {u,v} to exactly one output edge with endpoint sum <= u+v
   * (equality iff the edge is unchanged), and the closing distinct
   * only removes rows, so count equality forces the per-edge map to
   * be a bijection and sum equality then pins every edge. An
   * iteration that moves neither phase's signature is therefore a
   * sound fixpoint certificate.
   *
   * Pair endpoints not present in `docs` are semi-filtered away up
   * front: the min-label path ignores foreign endpoints (its
   * neighbor join runs against the docs-seeded label frame) and the
   * strategies must agree exactly.
   *
   * Scale posture: per phase one partial-combined min aggregation +
   * one keyed join + one distinct, all keyed by doc id; driver state
   * is the two-long signature per phase. Same exchange class as a
   * min-label round — the win is the round COUNT (measured in the
   * graph10m smoke).
   */
  /** Telemetry: the initial canonical-edge count of the most recent
    * stars run — when invoked by the `auto` switch this is the
    * CONTRACTED root graph's size, which the 100M smoke reports
    * against [[maxDriverFoldEdges]] (the incremental fold's
    * driver-vs-distributed gate). Free: the stars entry computes this
    * count as its first convergence signature anyway. */
  val lastStarsInitialEdges = new java.util.concurrent.atomic.AtomicLong(-1L)

  private[graft] def clustersViaStarsWithRounds(
      docs: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    val ids = docs.select(col("doc_id"))
    val edges0 =
      pairs.select(col("doc_a").as("x"), col("doc_b").as("y"))
        .join(ids.select(col("doc_id").as("x")), Seq("x"), "left_semi")
        .join(ids.select(col("doc_id").as("y")), Seq("y"), "left_semi")
        .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .where(col("a") =!= col("b"))
        .distinct()

    // endpoint sums in DECIMAL(38,0): hash-derived 63-bit ids make the
    // per-row a+b (and the corpus-wide sum) overflow a plain Long —
    // ANSI would throw, legacy would weaken the no-op certificate to
    // equality mod 2^64 (ADVICE r19)
    def signature(e: DataFrame): (java.math.BigDecimal, Long) = {
      val r = e.agg(
        sum(col("a").cast(DecimalType(38, 0)) + col("b").cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("n")).head
      (if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0), r.getLong(1))
    }
    // phase barrier + convergence signature in ONE action: each
    // phase's edge frame has two-to-three consumers, and the signature
    // aggregate is the action that materializes the barrier's blocks
    def phaseBarrier(e: DataFrame): (DataFrame, (java.math.BigDecimal, Long)) = {
      val p = graft.Materialize.roundBarrier(e)
      (p, signature(p))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // m <= u < v, so (m, v) is canonical and never a self-loop
      sym.where(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("b")).agg(min(col("a")).as("m"))
      // group by the larger endpoint: {x, m} per small neighbor x;
      // the {m, b} edge itself re-emits as the center link {m, b}
      e.join(mins, Seq("b"))
        .select(col("m").as("a"),
          when(col("a") === col("m"), col("b")).otherwise(col("a")).as("b"))
        .distinct()
    }

    var rounds = 0
    var (edges, sig) = phaseBarrier(edges0)
    lastStarsInitialEdges.set(sig._2)
    var done = sig._2 == 0L
    while (!done) {
      val (ls, sigL) = phaseBarrier(largeStar(edges))
      val (ss, sigS) = phaseBarrier(smallStar(ls))
      edges = ss
      rounds += 1
      done = sigL == sig && sigS == sigL
      sig = sigS
    }
    val members = edges.select(col("b").as("doc_id"), col("a").as("cluster_id"))
    val labels = materialize(ids
      .join(members, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id")))
    (finishAssignment(labels, Some(ids)), rounds)
  }

  /**
   * PageRank over an undirected pair graph (near-dup pairs: the
   * centrality signal ranks each duplicate cluster's hub — which
   * canonical candidate the most neighbors point at). Nodes are the
   * pair endpoints (every node has degree ≥ 1 — no dangling-mass
   * redistribution needed); `iters` fixed power iterations with
   * EVERY iteration's ranks rounded to 6 decimals — the s3
   * drift-reset technique that makes iterative float algorithms
   * cross-engine exact: both engines carry identical 6-dp rank
   * values into each round, so only the per-round contribution sum's
   * last-ulp order noise is exposed, and the round absorbs it.
   *
   * Scale shape: each iteration is one join of the edge list against
   * the O(nodes) rank frame plus a partial-combined contribution sum
   * keyed by node — the dedupClusters per-round cost without the
   * fixpoint loop (iteration count is fixed). The only driver scalar
   * is the node count.
   */
  def pairPageRank(pairs: DataFrame, iters: Int = 3, damping: Double = 0.85,
      decimals: Int = 6): DataFrame = {
    // same bounded-round posture as labelPropagation/bfsDistance/kCore:
    // the rounds chain with NO per-round barrier, so an unbounded
    // iteration count would build an unboundedly deep logical plan
    // (ADVICE r20)
    require(iters >= 1 && iters <= 32,
      s"pairPageRank: iters in [1, 32]: $iters")
    // NOT pinned (unlike the cc/kCore/bfs edge frames): the 10M-edge
    // A/B measured the src-pinned form at 54.0 s vs 18.5 s plain —
    // with every round chained into one stage, fixed cached
    // partitioning beats AQE's per-stage re-optimization of the
    // full-corpus state joins exactly backwards. Plain barrier keeps
    // each round's exchanges free for AQE (measured in plans/r20 and
    // OPTIMIZATION_r20.md).
    val edges = materialize(symmetrize(pairs).distinct())
    val nodes = materialize(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val n = nodes.count()
    require(n > 0, "pairPageRank: empty pair graph")
    // the drift-reset quantum must stay well below 1/n or the rounding
    // ZEROES every rank (found by the round-18 5M-node skew smoke:
    // 1/5e6 = 2e-7 rounds to 0 at 6 decimals). The default keeps the
    // pr1 oracle's 6-dp contract for small graphs; big graphs must
    // pass more decimals — loud refusal beats silent zeros.
    require(math.pow(10.0, -decimals) * n <= 0.1,
      s"pairPageRank: rounding quantum 1e-$decimals too coarse for $n nodes " +
        s"(quantum must be <= 0.1/n); pass decimals >= ${math.ceil(math.log10(n * 10.0)).toInt}")
    // op-sequence contract with the oracle: oneMinus is computed HERE
    // (1.0 - damping is NOT the literal 0.15 in binary64) and both
    // engines evaluate oneMinus / N and damping * sum identically
    val oneMinus = 1.0 - damping
    // Rounds chain WITHOUT per-round barriers: the id/deg carrier of
    // the next state comes from the checkpointed `nodes` frame (not
    // from the previous state), so each round's state has exactly ONE
    // consumer (the next round's contribution join) and the whole
    // power iteration runs as a single job of statically iters·2
    // keyed exchanges — no per-round checkpoint write of the full
    // rank table (guide §2.4/§5). Values are identical: the id set of
    // `state` always equals `nodes`' and deg never changes.
    var state = nodes.select(col("src").as("id"), col("deg"),
      round(lit(1.0) / n, decimals).as("r"))
    (1 to iters).foreach { _ =>
      val contribs = state
        .select(col("id").as("src"), (col("r") / col("deg")).as("c"))
        .join(edges, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inmass"))
      state = nodes.select(col("src").as("id"), col("deg"))
        .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), col("deg"),
          round(lit(oneMinus) / n + lit(damping) * coalesce(col("inmass"), lit(0.0)),
            decimals).as("r"))
    }
    // the column name carries the rounding contract (pr1's oracle pins
    // 6 dp) — a non-default precision must not masquerade as it
    // (review r18 finding)
    state.select(col("id").as("doc_id"), col("deg"),
      col("r").as(s"pagerank$decimals"))
  }

  /**
   * Per-node TRIANGLE counts over the near-dup pair graph — the
   * cluster-cohesion diagnostic pagerank's hub score misses: a
   * doc whose neighbors are also near-dups of EACH OTHER (high
   * triangle count) sits in a dense template family, while a
   * zero-triangle hub is a star (one canonical, many independent
   * variants) — the two shapes want different curation (keep one of
   * the clique vs audit the template). Output (doc_id, deg,
   * n_triangles) for every node of the graph, zeros included — all
   * integers, gate hash-exact.
   *
   * Algorithm: degree orientation (Suri & Vassilvitskii 2011,
   * "Counting Triangles and the Curse of the Last Reducer"): each
   * undirected edge is directed from the LOWER (deg, id) endpoint to
   * the higher, making every out-degree O(√m); each triangle then has
   * exactly ONE wedge node whose two out-edges reach the other two
   * corners, so a self-join of the oriented list on its source plus
   * one closing semi-ish join finds each triangle once.
   *
   * 100 TB posture: the wedge self-join's exchange is keyed on the
   * wedge SOURCE and its size is Σ outdeg² ≤ m^1.5 (the paper's
   * bound) — the degree orientation is precisely what keeps a
   * 10M-variant hub from exploding into 10^14 wedges: a hot node's
   * edges all point INTO it, so it sources no wedges at all. The
   * closing join is keyed on the oriented edge pair. No driver state;
   * the three exchanges (degrees, wedges, corner counts) are all
   * partial-combined aggregates or keyed joins.
   */
  def triangleCounts(pairs: DataFrame,
      sizeHint: Option[DataFrame] = None): DataFrame = {
    // canonicalize defensively: undirected edge as (min, max), deduped
    val und = materialize(pairs.select(
        least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") =!= col("b")).distinct())
    val deg = materialize(
      und.select(col("a").as("id")).unionByName(und.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg")))
    def withDeg(df: DataFrame, end: String, out: String) =
      df.join(deg.select(col("id").as(end), col("deg").as(out)), Seq(end))
    // orient low (deg, id) -> high (deg, id); total order, so exactly
    // one direction per edge survives. Pinned on the wedge source so
    // BOTH sides of the wedge self-join arrive co-partitioned and
    // sorted — the join runs with zero exchanges (guide §2.4)
    val oriented = graft.Materialize.persistPartitionedAbove(
      withDeg(withDeg(und.select(col("a"), col("b")), "a", "dega"), "b", "degb")
        .select(
          when(col("dega") < col("degb") ||
               (col("dega") === col("degb") && col("a") < col("b")),
            struct(col("a").as("s"), col("b").as("d"),
                   col("dega").as("ds"), col("degb").as("dd")))
          .otherwise(
            struct(col("b").as("s"), col("a").as("d"),
                   col("degb").as("ds"), col("dega").as("dd")))
          .as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"),
                col("e.ds").as("ds"), col("e.dd").as("dd")),
      "s", sizeOf = sizeHint.getOrElse(pairs))
    // wedges from each source's out-neighborhood (ordered by rank so
    // each unordered pair appears once), closed by the oriented edge
    val e1 = oriented.select(col("s"), col("d").as("v"), col("dd").as("dv"))
    val e2 = oriented.select(col("s"), col("d").as("w"), col("dd").as("dw"))
    val wedges = e1.join(e2, Seq("s"))
      .where(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("s"), col("v"), col("w"))
    val triangles = wedges.join(
      oriented.select(col("s").as("v"), col("d").as("w")), Seq("v", "w"))
    val corners = triangles.select(explode(array(col("s"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(corners, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /**
   * Multi-source BFS HOP DISTANCE over an undirected pair graph —
   * "how far is every document from the trusted set": given seed
   * nodes, the shortest hop count from any seed, bounded at
   * `maxHops` (unreached-within-bound → null). The graph-proximity
   * triage that complements tc1's cohesion (a near-dup of a near-dup
   * of a flagged doc is itself suspect — contamination halo, trust
   * propagation). Frontier semantics: dist_{k+1}(v) = min(dist_k(v),
   * 1 + min over neighbors dist_k(u)) — after k rounds every node
   * within k hops holds its exact shortest distance.
   *
   * Scale shape: the cc1 iterative posture — each round is one
   * src-keyed join (propagate) plus one partial-combined min
   * aggregate, materialized behind the [[materialize]] barrier (the
   * round count is the BOUND, fixed by the caller, not data-driven
   * convergence — so the job graph is statically maxHops·2 keyed
   * exchanges). No corpus-wide single partition; a hot hub fans out
   * through one join key and its updates combine map-side.
   */
  def bfsDistance(
      pairs: DataFrame, isSeed: Column => Column, maxHops: Int,
      sizeHint: Option[DataFrame] = None): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32,
      s"bfsDistance: maxHops must be in [1, 32]: $maxHops")
    val und = materialize(pairs.select(
        least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") =!= col("b")).distinct())
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val nodes = materialize(sym.select(col("src").as("id")).distinct())
    // Self-loop formulation: dist_{k+1}(v) = min(dist_k(v) + 0,
    // 1 + min over neighbors dist_k(u)) — adding an (id, id) edge per
    // node folds the "keep my own distance" term into the SAME
    // propagate join, so each round is one join + one min aggregate
    // and the previous distance frame has exactly ONE consumer. That
    // removes the per-round union AND the per-round localCheckpoint
    // the two-consumer form required: the maxHops rounds now chain
    // into a single job of statically maxHops·2 keyed exchanges with
    // no intermediate full-table writes (guide §2.4/§5). Semantics
    // identical — the self-loop contributes dist + 0, exactly the
    // old union's dist branch.
    // pinned on src — the per-hop propagate join's key — so the
    // self-looped edge list shuffles+sorts once, not once per hop
    // (guide §2.4; the union would otherwise recompute AND re-exchange
    // under every round's join)
    val symSelf = graft.Materialize.persistPartitionedAbove(
      sym.unionByName(
        nodes.select(col("id").as("src"), col("id").as("dst"))),
      "src", sizeOf = sizeHint.getOrElse(pairs))
    var dist = nodes.where(isSeed(col("id")))
      .select(col("id"), lit(0L).as("dist"))
    for (_ <- 1 to maxHops) {
      dist = symSelf.join(dist.select(col("id").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("id"),
          (col("dist") + when(col("src") === col("dst"), lit(0L)).otherwise(lit(1L)))
            .as("dist"))
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
    }
    nodes.join(dist, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("dist"))
  }

  /**
   * LABEL-PROPAGATION COMMUNITIES over the near-dup pair graph
   * (Raghavan et al. 2007, synchronous variant with a deterministic
   * tie rule): every node starts labeled with its own id; each round
   * every node adopts the most frequent label among its neighbors,
   * ties broken by the SMALLEST label. Fixed `rounds` (the pr1/kc1
   * bounded-round posture — no convergence-test job; synchronous LPA
   * can oscillate on bipartite structures, and a fixed horizon makes
   * the output a pure deterministic function of the graph, which is
   * what lets the oracle unroll it). Communities differ from
   * connected components (cc1) exactly where curation needs them to:
   * a sparse bridge between two dense template families keeps ONE
   * component but TWO majority-label communities.
   *
   * Output: (doc_id, community, community_size) for every node.
   *
   * Scale shape: per round one keyed join (labels onto edge
   * destinations) and two partial-combined aggregates — the
   * (node, label) count and the per-node argmax via `max(struct)`
   * (the ivf assignment trick: max over (count, -label) reproduces
   * the (count DESC, label ASC) rank-1 pick without a window) — each
   * round behind the [[materialize]] barrier; statically rounds·2
   * exchanges, no corpus-wide single partition.
   */
  def labelPropagation(pairs: DataFrame, rounds: Int = 3,
      sizeHint: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1 && rounds <= 32,
      s"labelPropagation: rounds in [1, 32]: $rounds")
    // NOT pinned: the 10M-edge A/B measured the dst-pinned form at
    // 37.6 s vs 33.5 s plain — same class as pageRank (full-corpus
    // label state each round; AQE per-stage re-optimization wins).
    val edges = materialize(
      symmetrize(pairs).where(col("src") =!= col("dst")).distinct())
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    // Each round's label frame has exactly ONE consumer (the next
    // round's join), so no per-round barrier is needed: the rounds
    // chain into a single job of statically rounds·2 keyed exchanges
    // (edges stays checkpointed — it IS multi-consumed, once per
    // round). The old per-round localCheckpoint wrote the full label
    // table `rounds` times and cut each round into its own job —
    // pure overhead when nothing re-reads the intermediate rounds
    // (optimization guide §2.4/§5: a barrier is only worth its write
    // when the frame is reused).
    // A/B'd r21 against a mid-chain barrier (materialize after round
    // 2): cold-JVM ×3 at sf0.1 medians 2.37 s chain vs 2.45 s
    // barriered (barriered side swung wider, 1.92-2.81), 10M edges
    // 29.1 s mean-of-4 chain vs 30.7 barriered — the unbarriered
    // chain stays.
    (1 to rounds).foreach { _ =>
      labels = edges
        .join(labels.select(col("id").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src")).agg(
          max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("src").as("id"), (-col("m.nl")).as("lbl"))
    }
    // the FINAL labels are multi-consumed (size aggregate + join
    // back) — one barrier here, where the reuse is real; sizes
    // attach via the hot/cold split (a giant community is the same
    // skew shape as a giant cluster). Gate on the caller's sizeHint
    // (a stats-bearing scan) when given: the pair frame's own
    // estimate is join-multiplied garbage (measured 1.2e15 B for a
    // 26-pair frame), which forced the hot-probe job on EVERY run —
    // the r20 driver-bench lp1 regression (VERDICT r20 finding 1).
    val fin = materialize(labels)
    withGroupSizes(fin, "lbl", "community_size", sizeHint.orElse(Some(pairs)))
      .select(col("id").as("doc_id"), col("lbl").as("community"),
        col("community_size"))
  }

  /**
   * Bounded-round K-CORE membership over an undirected pair graph —
   * tc1's cohesion triage taken from counting to CLASSIFying: peel
   * nodes of induced degree < k for `rounds` rounds (each removal
   * can drop neighbors below k, hence the iteration); survivors of
   * the final round are the round-bounded k-core,
   * core_r = {v ∈ core_{r−1} : |N(v) ∩ core_{r−1}| ≥ k}. With enough
   * rounds this is the exact k-core; the ROUND COUNT is part of the
   * operator's contract (like [[bfsDistance]]'s maxHops) so the job
   * graph is static and the oracle can unroll the identical rounds.
   * For near-dup graphs, core members are the dense clique templates
   * (mass-produced boilerplate families), peripheral nodes the
   * one-off variants.
   *
   * Output: (doc_id, deg, in_core) for every node of the graph.
   *
   * Scale shape: round 1 counts each node's rows of the
   * endpoint-exploded edge list, which is its degree. Each later peel
   * round is ONE vertex-centric message pass: a sort-merge semi join
   * of the edge list against the previous core (co-partitioned with
   * the edge list's `id` pin, never a broadcast), then one
   * partial-combined count keyed on the node id. Above the pin gate
   * that is statically rounds−1 keyed exchanges chained in one job
   * graph: no per-round barrier, no corpus-wide single partition, no
   * convergence-test job.
   */
  def kCore(pairs: DataFrame, k: Int, rounds: Int,
      sizeHint: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 32,
      s"kCore: need k >= 1 and rounds in [1, 32]: k=$k rounds=$rounds")
    val undRaw = pairs.select(
        least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    // m carries each distinct edge a<b twice, once per endpoint `id`.
    // It is loop-invariant and read once per round, so it is pinned BY
    // the semi join's key id above the size gate: it pays its
    // shuffle+sort once, and every round's merge join reads it in
    // place.
    val m = graft.Materialize.persistPartitionedAbove(
      undRaw.select(col("a"), col("b"),
        explode(array(col("a"), col("b"))).as("id")),
      "id", sizeOf = sizeHint.getOrElse(pairs))
    // Round 1: a node's degree is its row count in m, and core_1 is the
    // nodes of degree >= k. Counted on m's id pin, this needs no
    // exchange above the gate. (The same count as a message pass would
    // need one, and AQE does not reuse an exchange over a cached-table
    // stage, so the output's second read of it would run it twice.)
    val degrees = m.groupBy(col("id")).agg(count(lit(1)).as("deg"))
    var core = degrees.where(col("deg") >= k).select(col("id"))
    // Every later round is one message pass over the rows of m whose id
    // survived the last round: each tells its other endpoint "one live
    // neighbour" and tells `id` "alive". Grouped on the node id, `n` is
    // |N(v) ∩ core| and `alive` is v ∈ core, so the round keeps the
    // alive nodes with n >= k. The `merge` hint keeps the semi join a
    // sort-merge join on m's id pin: AQE would otherwise broadcast the
    // small core at run time (one more job per round). Each core has
    // ONE consumer (the next semi join), so the rounds chain with no
    // barrier and the plan does not grow with `rounds`.
    for (_ <- 2 to rounds) {
      core = m.join(core.hint("merge"), Seq("id"), "left_semi")
        .select(inline(array(
          struct(when(col("id") === col("a"), col("b")).otherwise(col("a")).as("id"),
            lit(false).as("self")),
          struct(col("id"), lit(true).as("self")))))
        .groupBy(col("id"))
        .agg(count(when(!col("self"), lit(1))).as("n"), max(col("self")).as("alive"))
        .where(col("alive") && col("n") >= k).select(col("id"))
    }
    // both sides are already partitioned on id: a merge join needs no
    // exchange, where a runtime broadcast of the core would add a job
    degrees.join(core.withColumn("inc", lit(true)).hint("merge"), Seq("id"), "left")
      .select(col("id").as("doc_id"), col("deg"),
        coalesce(col("inc"), lit(false)).as("in_core"))
  }

  /**
   * Blocked JARO–WINKLER name similarity at distinct-name grain —
   * the graded-score companion to [[blockedEditDistance]] (see
   * [[graft.functions.JaroWinklerSim]] for the bit-pinned measure):
   * `names` must carry distinct (block, name) rows; output per name
   * is the count of same-block names clearing `minSim` plus the
   * best-scoring match (ties to the lexicographically smallest
   * name). The threshold compares RAW doubles (bit-equal across
   * engines); only the emitted score is rounded (r6 floor-formula).
   *
   * Scale shape: one block-keyed self-join pair scan
   * (Σ|block-names|² pairs — the distinct-value-linkage bound), one
   * partial-combined count + min(struct) argbest per name, one left
   * join back to the name base. The input sits behind the standard
   * barrier (three consumers; column pruning defeats ReuseExchange —
   * the au1 plan finding). The block key is the scale lever, with
   * the same hot-block decomposition story as blockedEditDistance
   * (measured in SCALE_NOTES round-12 addendum 2).
   */
  def blockedNameSimilarity(names: DataFrame, minSim: Double): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0,
      s"blockedNameSimilarity: minSim must be in (0, 1]: $minSim")
    graft.functions.GraftFunctions.register(names.sparkSession)
    val base = materialize(
      names.where(col("block").isNotNull && col("name").isNotNull)
        .select(col("block"), col("name")).distinct())
    val b = base.select(col("block"), col("name").as("name_b"))
    val sims = base.join(b, Seq("block"))
      .where(col("name") =!= col("name_b"))
      .withColumn("jw",
        call_function("graft_jaro_winkler", col("name"), col("name_b")))
      .where(col("jw") >= lit(minSim))
      .groupBy(col("block"), col("name"))
      .agg(count(lit(1)).as("n_sim"),
        min(struct((-col("jw")).as("neg_jw"), col("name_b").as("nb"))).as("best"))
    base.join(sims, Seq("block", "name"), "left")
      .select(col("block"), col("name"),
        coalesce(col("n_sim"), lit(0L)).as("n_sim"),
        (floor(-col("best.neg_jw") * lit(1e6) + lit(0.5)) / lit(1e6)).as("best_jw6"),
        col("best.nb").as("best_name"))
  }

  /**
   * Blocked EDIT-DISTANCE matching — the record-linkage/entity-
   * resolution primitive the token-set family (Jaccard, minhash,
   * containment) cannot express: two short strings ("red widget" /
   * "red wdget") are near in LEVENSHTEIN space even when their token
   * sets barely overlap. Classic blocking design (Fellegi–Sunter
   * lineage): candidate pairs form ONLY within a user-chosen block
   * key (a cheap canonical sub-key typos are assumed to preserve —
   * here the caller picks it), each block self-joins, survivors
   * verify with the engine's codegen'd `levenshtein`. Per-record
   * output (id, n_near, best_dist, best_match) with zeros/nulls for
   * unmatched records; best = min(struct(dist, id)) — lowest
   * distance, ties to the lowest id, one partial-combined aggregate.
   *
   * Input frame must carry (id, name, block).
   *
   * Execution: DISTINCT-VALUE linkage — the production trick (and
   * the measured one: at sf0.1 the naive record×record form ran 50M
   * levenshteins in 24 s; part names have 64 distinct values).
   * Levenshtein runs only on distinct-NAME pairs within a block
   * (Σ|distinct names per block|² — duplicates never re-verify), and
   * record-grain outputs reconstruct exactly from per-name counts:
   * same-name duplicates are distance-0 matches (so best =
   * (0, min other id with that name) whenever the name repeats —
   * identical strings at distance > 0 are impossible, so distance 0
   * can only come from the same name), cross-name matches aggregate
   * as Σcnt with a min(struct(dist, min-id)) argmin. The spec pins
   * equality of this form against the naive semantics on duplicated
   * names, and the gate's oracle IS the naive record-grain SQL.
   *
   * 100 TB posture: the only exchanges are keyed on `block` and
   * (block, name). Levenshtein pair volume follows the DISTINCT-name
   * block sizes — the block key IS the scale lever (same contract as
   * LSH bands), and a hot block decomposes with the x5 chunked-pair
   * pattern if one key degenerates.
   */
  def blockedEditDistance(records: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"blockedEditDistance: maxDist must be >= 0: $maxDist")
    // installs the LevenshteinLengthBound rewrite (the dist <= k
    // verify below is exactly the filter it bands)
    graft.functions.GraftFunctions.register(records.sparkSession)
    // null block or name = unblockable: such records surface with
    // n_near = 0 (the left join below) instead of being dropped by
    // the inner joins' null-key semantics
    val keyed = records.where(col("block").isNotNull && col("name").isNotNull)
    val names = materialize(keyed.groupBy(col("block"), col("name")).agg(
      count(lit(1)).as("cnt"), min(col("id")).as("id1")))
    // second-smallest id per name: the best match of the min-id record
    // among its same-name duplicates
    val id2 = keyed
      .join(names.select(col("block"), col("name"), col("id1")), Seq("block", "name"))
      .where(col("id") =!= col("id1"))
      .groupBy(col("block"), col("name")).agg(min(col("id")).as("id2"))
    val a = names.select(col("block"), col("name").as("name_a"))
    val b = names.select(col("block"), col("name").as("name_b"),
      col("cnt").as("cnt_b"), col("id1").as("id1_b"))
    val cross = a.join(b, Seq("block"))
      .where(col("name_a") =!= col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("dist") <= maxDist)
      .groupBy(col("block"), col("name_a").as("name")).agg(
        sum(col("cnt_b")).as("n_cross"),
        min(struct(col("dist").as("d"), col("id1_b").as("m"))).as("bestx"))
    val scored = keyed
      .join(names.select(col("block"), col("name"), col("cnt"), col("id1")),
        Seq("block", "name"))
      .join(id2, Seq("block", "name"), "left")
      .join(cross, Seq("block", "name"), "left")
      .select(col("id"),
        (coalesce(col("n_cross"), lit(0L)) + (col("cnt") - 1)).as("n_near"),
        when(col("cnt") > 1, lit(0L)).otherwise(col("bestx.d")).as("best_dist"),
        when(col("cnt") > 1,
          when(col("id") === col("id1"), col("id2")).otherwise(col("id1")))
          .otherwise(col("bestx.m")).as("best_match"))
    // shuffle-free re-attach: the unblockable complement unions back
    // with zeros (a record-grain join here would shuffle both frames
    // on id just to add a usually-tiny row set)
    scored.unionByName(
      records.where(col("block").isNull || col("name").isNull)
        .select(col("id"), lit(0L).as("n_near"),
          lit(null).cast("long").as("best_dist"),
          lit(null).cast(records.schema("id").dataType).as("best_match")))
  }

  /** Contracted-graph folds at or below this many distinct root-edges
    * run as ONE driver-side union-find pass instead of the O(log d)
    * distributed label-propagation rounds. LOUD BOUND, same shape as
    * `maxBroadcastRows`: 5M (root_a, root_b) longs is ~80 MB of driver
    * heap and the contracted graph is batch-bounded BY CONSTRUCTION
    * (≤ the arriving batch's distinct cross-component edges — never
    * corpus-sized), so a batch that exceeds this is a pipeline-shape
    * signal, not a silent failure: the fold falls back to the
    * distributed path, it does not error. */
  val maxDriverFoldEdges: Long = 5000000L

  /**
   * Component-minimum remap of the CONTRACTED graph — (doc_id,
   * cluster_id = component min) over `rootDocs` with `edgeRoots`
   * edges. At or below [[maxDriverFoldEdges]] distinct root-edges this
   * is one collect + union-find with path compression (attach the
   * larger root under the smaller, so every find lands on the
   * component minimum — the same fixpoint as min-label propagation),
   * the [[graft.similarity.Similarity.kmeansCentroids]] bounded-state
   * argument applied to a batch-bounded graph: the distributed fold's
   * per-round job latency (two joins + an aggregation + a convergence
   * action, times O(log d) rounds) is a FIXED cost that dwarfs a
   * sub-second driver pass at any batch size the bound admits. Above
   * the bound, [[dedupClusters]]'s distributed rounds take over —
   * equality of the two paths is property-tested (CorpusSpec).
   */
  private[graft] def contractedRemap(
      rootDocs: DataFrame, edgeRoots: DataFrame, nEdgeRoots: Long,
      maxDriverEdges: Long = maxDriverFoldEdges): DataFrame = {
    if (nEdgeRoots > maxDriverEdges)
      return dedupClusters(
        rootDocs, edgeRoots.select(col("root_a").as("doc_a"), col("root_b").as("doc_b")))
        .select(col("doc_id"), col("cluster_id"))
    val spark = rootDocs.sparkSession
    import spark.implicits._
    val edges = edgeRoots
      .select(col("root_a").cast("long"), col("root_b").cast("long"))
      .as[(Long, Long)].collect()
    val docs = rootDocs.select(col("doc_id").cast("long")).as[Long].collect()
    val parent = new scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // min-root union: the surviving root is the component minimum
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    docs.toSeq.map(d => (d, find(d))).toDF("doc_id", "cluster_id")
  }

  /**
   * Delta-incremental connected components: fold a batch of NEW docs
   * and NEW similarity edges into a prior [[dedupClusters]] assignment
   * without re-clustering the corpus. The continuous-ingest path for
   * web-scale dedup — the prior assignment is a stored table; each
   * arriving crawl slice only pays for the components it touches.
   *
   * Exactness argument: a prior label is the min doc id of its
   * component, so contracting every old component to its root and
   * every new doc to itself preserves component minima; new edges
   * projected onto roots (self-loops dropped) form the CONTRACTED
   * graph, whose propagation fixpoint is the merged component minimum.
   * Result == `dedupClusters(all docs, all edges)` whenever `prior` is
   * a valid fixpoint — property-tested against the from-scratch run.
   *
   * Scale posture: the fold on the contracted graph
   * ([[contractedRemap]] — driver union-find under
   * [[maxDriverFoldEdges]], distributed propagation above) sees only
   * DISTINCT touched roots and root-edges
   * — bounded by the batch, not the corpus. The corpus-sized work is
   * one left join against the root remap (tiny → broadcast) plus the
   * cluster-size recount; callers maintaining sizes out-of-band can
   * drop the recount and this becomes corpus-scan-free for untouched
   * partitions.
   *
   * @param prior   (doc_id, cluster_id) fixpoint from a previous run
   * @param newDocs (doc_id) docs not present in `prior`
   * @param newPairs (doc_a, doc_b) edges over prior ∪ new docs
   */
  def incrementalClusters(prior: DataFrame, newDocs: DataFrame, newPairs: DataFrame): DataFrame = {
    val labels = materialize(
      prior.select(col("doc_id"), col("cluster_id"))
        .unionByName(newDocs.select(col("doc_id"), col("doc_id").as("cluster_id"))))
    val edgeRoots = materialize(newPairs
      .join(labels.select(col("doc_id").as("doc_a"), col("cluster_id").as("root_a")), Seq("doc_a"))
      .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("root_b")), Seq("doc_b"))
      .select(col("root_a"), col("root_b"))
      .where(col("root_a") =!= col("root_b"))
      .distinct())
    val nEdgeRoots = edgeRoots.count()
    val updated =
      if (nEdgeRoots == 0) labels
      else {
        val rootDocs = edgeRoots.select(col("root_a").as("doc_id"))
          .unionByName(edgeRoots.select(col("root_b").as("doc_id"))).distinct()
        val remap = contractedRemap(rootDocs, edgeRoots, nEdgeRoots)
          .where(col("doc_id") =!= col("cluster_id")) // identity rows remap nothing
          .select(col("doc_id").as("old_root"), col("cluster_id").as("new_root"))
        labels.join(broadcast(remap), labels("cluster_id") === remap("old_root"), "left")
          .select(col("doc_id"), coalesce(col("new_root"), col("cluster_id")).as("cluster_id"))
      }
    // recount via the hot/cold split — the incremental path inherits
    // the same giant-component straggler otherwise
    withGroupSizes(updated, "cluster_id", "cluster_size", Some(prior))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /**
   * [[incrementalClusters]] with cluster-size MAINTENANCE: when the
   * prior assignment carries `cluster_size` (as [[dedupClusters]]
   * output does), merged sizes are computed on the contracted graph
   * from the prior CANONICAL rows instead of recounting the corpus —
   * so the batch path has NO corpus-wide shuffle or aggregation at
   * all. The corpus is touched by exactly two broadcast-filter scans
   * (touched vs untouched prior rows) plus broadcast joins on the
   * touched slice; untouched rows stream through unchanged.
   *
   * @param prior (doc_id, cluster_id, cluster_size) fixpoint; sizes
   *              are read from canonical rows (doc_id == cluster_id)
   */
  def incrementalClustersWithSizes(
      prior: DataFrame, newDocs: DataFrame, newPairs: DataFrame): DataFrame = {
    val (untouched, delta) = foldWithSizes(prior, newDocs, newPairs)
    untouched.unionByName(delta)
  }

  /** DELTA form of [[incrementalClustersWithSizes]]: only the rows the
    * batch changed — docs whose cluster id or size moved, plus the new
    * docs — i.e. exactly the rows a lakehouse MERGE/upsert against the
    * stored assignment table needs. Untouched rows are never read past
    * the broadcast-anti filter, so the sink-side write is O(touched),
    * not O(corpus). `delta ∪ untouched prior rows == from-scratch
    * recluster` is property-tested. */
  def incrementalClustersDelta(
      prior: DataFrame, newDocs: DataFrame, newPairs: DataFrame): DataFrame =
    foldWithSizes(prior, newDocs, newPairs)._2

  /** Shared fold: (untouched prior rows as-is, changed/new rows). */
  private def foldWithSizes(
      prior: DataFrame, newDocs: DataFrame, newPairs: DataFrame): (DataFrame, DataFrame) = {
    val labels = materialize(
      prior.select(col("doc_id"), col("cluster_id"))
        .unionByName(newDocs.select(col("doc_id"), col("doc_id").as("cluster_id"))))
    val edgeRoots = materialize(newPairs
      .join(labels.select(col("doc_id").as("doc_a"), col("cluster_id").as("root_a")), Seq("doc_a"))
      .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("root_b")), Seq("doc_b"))
      .select(col("root_a"), col("root_b"))
      .where(col("root_a") =!= col("root_b"))
      .distinct())
    val priorOut = prior.select(col("doc_id"), col("cluster_id"), col("cluster_size"),
      (col("doc_id") === col("cluster_id")).as("is_canonical"))
    val singletons = (d: DataFrame) => d.select(col("doc_id"),
      col("doc_id").as("cluster_id"), lit(1L).as("cluster_size"),
      lit(true).as("is_canonical"))
    val nEdgeRoots = edgeRoots.count()
    if (nEdgeRoots == 0) return (priorOut, singletons(newDocs))

    val rootDocs = materialize(edgeRoots.select(col("root_a").as("doc_id"))
      .unionByName(edgeRoots.select(col("root_b").as("doc_id"))).distinct())
    val remap = materialize(
      contractedRemap(rootDocs, edgeRoots, nEdgeRoots)
        .select(col("doc_id").as("old_root"), col("cluster_id").as("new_root")))
    // merged size per surviving root: prior canonical sizes for old
    // roots, 1 for new-doc roots. The canonical-row scan is
    // broadcast-semi-filtered to touched roots FIRST so every join
    // below is touched-graph-sized on both sides (no corpus shuffle).
    val touchedCanon = prior.where(col("doc_id") === col("cluster_id"))
      .join(broadcast(rootDocs.select(col("doc_id").as("cluster_id"))), Seq("cluster_id"),
        "left_semi")
      .select(col("cluster_id").as("old_root2"), col("cluster_size").as("old_size"))
    val rootSizes = rootDocs
      .join(broadcast(remap), rootDocs("doc_id") === remap("old_root"))
      .join(broadcast(touchedCanon), col("old_root") === col("old_root2"), "left")
      .groupBy(col("new_root"))
      .agg(sum(coalesce(col("old_size"), lit(1L))).as("new_size"))
    val remapSized = materialize(remap.join(broadcast(rootSizes), Seq("new_root"))
      .select(col("old_root"), col("new_root"), col("new_size")))

    val untouched = prior
      .join(broadcast(rootDocs.select(col("doc_id").as("cluster_id"))), Seq("cluster_id"),
        "left_anti")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
    val touchedOld = prior
      .join(broadcast(remapSized), prior("cluster_id") === remapSized("old_root"))
      .select(col("doc_id"), col("new_root").as("cluster_id"),
        col("new_size").as("cluster_size"),
        (col("doc_id") === col("new_root")).as("is_canonical"))
    val newTouched = newDocs
      .join(broadcast(remapSized), newDocs("doc_id") === remapSized("old_root"))
      .select(col("doc_id"), col("new_root").as("cluster_id"),
        col("new_size").as("cluster_size"),
        (col("doc_id") === col("new_root")).as("is_canonical"))
    val newSingleton = newDocs
      .join(broadcast(remapSized.select(col("old_root").as("doc_id"))), Seq("doc_id"),
        "left_anti")
    (untouched,
      touchedOld.unionByName(newTouched).unionByName(singletons(newSingleton)))
  }

  /**
   * Benchmark decontamination — flag corpus documents sharing word
   * n-grams with an evaluation set (the GPT-3 appendix-C / Gopher
   * protocol for test-set overlap removal; a training-data pipeline
   * staple with no reference counterpart). Returns every corpus row:
   * (doc_id, n_hits = number of distinct shared n-grams,
   * contaminated = n_hits ≥ minHits).
   *
   * Plan shape: the benchmark's distinct gram hashes aggregate small
   * (every public eval suite together is ≪ 10^8 grams) and BROADCAST,
   * so the corpus side — one scan, per-row shingle hashing via the
   * codegen'd `graft_shingle_hashes`, explode, broadcast hash join —
   * never shuffles document content; the only exchange is the
   * doc_id-keyed partial-aggregated hit count. A corpus-sized
   * benchmark would drop the broadcast and shuffle both sides on the
   * gram hash (same plan otherwise). Grams are compared as 32-bit
   * md5-derived hashes (8 bytes broadcast per gram, and the DuckDB
   * twin reproduces the identical hash, so the gate stays exact).
   */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      n: Int = 3, minHits: Long = 1L): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def grams(df: DataFrame) = parallelize(df).select(col("doc_id"),
      explode(array_distinct(
        call_function("graft_shingle_hashes", col("text"), lit(n)))).as("g"))
    val bench = broadcast(grams(benchmark).select(col("g")).distinct())
    // both sides are distinct, so count(*) = distinct shared grams
    val hits = grams(corpus).join(bench, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    corpus.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  /**
   * Bloom-pre-screened decontamination — [[decontaminate]]'s
   * semantics (OUTPUT is identical: doc_id, n_hits, contaminated)
   * behind the screen shape large pipelines (Dolma, RedPajama-v2)
   * actually ship when the benchmark gram set outgrows a comfortable
   * broadcast join relation: a Bloom BITSET over the benchmark grams
   * rides the scan as one reference object
   * ([[graft.functions.BloomContains]] — ~`bitsPerGram`/8 bytes per
   * gram vs the 8-byte long plus hash-relation overhead a broadcast
   * join pays, a ~10-20× memory reduction), and only bloom-POSITIVE
   * corpus grams — true hits plus an fpp-bounded trickle — proceed to
   * the exact confirm join that removes false positives. The confirm
   * join deliberately carries NO broadcast hint: its left side is
   * survivor-sized, so AQE picks broadcast when the benchmark fits
   * and a shuffle join when it does not — the regime this operator
   * exists for.
   *
   * Build is fully distributed: benchmark grams explode through
   * `graft_bloom_positions` (the SAME position arithmetic the probe
   * uses — [[graft.functions.BloomKernel]]), `pos >> 6` keys a
   * partial-combined bit_or word aggregate, and only the finished
   * word array (≤ `maxBloomWords` longs, loud refusal above — the
   * maxDriverFoldEdges convention) reaches the driver. fpp ≈
   * 0.6185^bitsPerGram (≈ 0.3% at the default 12 bits/gram, k=8).
   *
   * 100 TB posture: corpus content never shuffles — one scan, per-row
   * shingle hash, bloom filter AT the scan, and the only
   * corpus-keyed exchange is the final doc_id hit-count aggregate;
   * the benchmark-gram exchange is bounded by the benchmark's own
   * size. Determinism: splitmix64 double hashing, no engine-dependent
   * hash — but the gate never depends on it, because the exact
   * confirm makes the output fpp-independent (the oracle is
   * [[decontaminate]]'s).
   */
  /** Distributed Bloom bitset build over a distinct LONG gram frame
    * `bench(g)`: explode the k positions per gram, partial-combined
    * bit_or per 64-bit word, collect ≤ maxBloomWords words (loud
    * refusal above — the maxDriverFoldEdges convention). Returns the
    * dense word array and the hash count k = round(ln2·bitsPerGram).
    * Shared by [[bloomDecontaminate]] and the streaming bloom screen
    * ([[graft.streaming.StreamingDedup.streamingBloomScreen]]), so
    * both paths probe the IDENTICAL bitset. */
  private[graft] def buildBloomWords(
      bench: DataFrame, bitsPerGram: Int, maxBloomWords: Long,
      op: String): (Array[Long], Int) = {
    val nGrams = math.max(1L, bench.count())
    val nWords = (nGrams * bitsPerGram + 63L) / 64L
    if (nWords > maxBloomWords) throw new IllegalArgumentException(
      s"$op: $nGrams benchmark grams x $bitsPerGram bits = $nWords words " +
        s"> maxBloomWords=$maxBloomWords (${maxBloomWords * 8 / (1 << 20)} MiB). The bitset " +
        "is driver-assembled and plan-shipped; raise maxBloomWords if the cluster has the " +
        "memory, or fall back to decontaminate()'s gram join.")
    val mBits = nWords * 64L
    // k* = ln2 · bits/gram, clamped to the kernel's range
    val k = math.max(1, math.min(16, math.round(bitsPerGram * math.log(2.0)).toInt))
    val setWords = bench
      .select(explode(call_function("graft_bloom_positions",
        col("g"), lit(mBits), lit(k))).as("pos"))
      .select(shiftright(col("pos"), 6).as("w"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("b"))
      .groupBy(col("w")).agg(bit_or(col("b")).as("bits"))
      .collect() // ≤ nWords rows — guarded above
    val words = new Array[Long](nWords.toInt)
    setWords.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    (words, k)
  }

  /** Bloom bitset UNION — the mergeability that makes the screen a
    * lake primitive (the hl2/sk2 counterpart): two filters built over
    * the SAME (mBits, k) geometry OR together word-wise, and the
    * merged filter answers membership for the union of their gram
    * sets (a bit set by either build stays set; no false negatives
    * can appear, fpp composes as roughly the sum). The benchmark
    * registry shape: each eval suite builds its bitset once; the
    * ingest screen probes the OR of all of them. Geometry mismatch
    * refuses loudly — resizing a bloom filter is a rebuild, never a
    * merge. */
  def mergeBloomWords(
      a: (Array[Long], Int), b: (Array[Long], Int)): (Array[Long], Int) = {
    require(a._1.length == b._1.length && a._2 == b._2,
      s"mergeBloomWords: geometry mismatch (${a._1.length} words/k=${a._2} vs " +
        s"${b._1.length} words/k=${b._2}) — bloom filters only merge at " +
        "identical (mBits, k); a k mismatch would probe bits the smaller-k " +
        "build never set (false negatives). Rebuild at a common geometry.")
    val out = new Array[Long](a._1.length)
    var i = 0
    while (i < a._1.length) { out(i) = a._1(i) | b._1(i); i += 1 }
    (out, a._2)
  }

  def bloomDecontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      n: Int = 3, minHits: Long = 1L, bitsPerGram: Int = 12,
      maxBloomWords: Long = 1L << 27): DataFrame = {
    require(bitsPerGram >= 4 && bitsPerGram <= 24,
      s"bloomDecontaminate: bitsPerGram must be in [4, 24]: $bitsPerGram")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def grams(df: DataFrame) = parallelize(df).select(col("doc_id"),
      explode(array_distinct(
        call_function("graft_shingle_hashes", col("text"), lit(n)))).as("g"))
    val bench = materialize(grams(benchmark).select(col("g")).distinct())
    val (words, k) = buildBloomWords(bench, bitsPerGram, maxBloomWords,
      "bloomDecontaminate")
    val candidates = grams(corpus)
      .where(call_function("graft_bloom_contains",
        col("g"), typedlit(words.toSeq), lit(k)))
    // exact confirm: false positives die here; no broadcast hint on
    // purpose (see scaladoc)
    val hits = candidates.join(bench, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    corpus.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  /** Shared signature-derivation chain for the cross-corpus operators
    * ([[crossCorpusNearDups]], [[fuzzyDecontaminate]]): one-pass
    * shingle-hash kernel → (band keys for candidates, distinct hash
    * sets for the exact verify, the materialized digs frame for
    * loud-guard counting). */
  private def signatureChain(
      docs: DataFrame, par: Boolean, k: Int, bands: Int, rows: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = if (par) parallelize(docs) else docs
    val digs = materialize(base
      .select(col("doc_id"),
        call_function("graft_shingle_hashes", col("text"), lit(3)).as("digs"))
      .where(size(col("digs")) > 0))
    val hsets = digs.select(col("doc_id"),
      array_sort(array_distinct(col("digs"))).as("hset"))
    val keyed = digs
      .select(col("doc_id"), call_function("graft_minhash", col("digs"), lit(k)).as("sig"))
      .select(col("doc_id"),
        posexplode(lshBands(col("sig"), bands, rows)).as(Seq("band_idx", "bucket")))
    (keyed, hsets, digs)
  }

  /**
   * FUZZY decontamination — the leak the exact n-gram screen
   * ([[decontaminate]]) misses: a paraphrased or lightly edited
   * benchmark item shares FEW exact grams with its source but keeps
   * high shingle-set Jaccard. Flags each CORPUS doc whose verified
   * Jaccard against ANY benchmark doc reaches `threshold`; per-doc
   * output (doc_id, n_fuzzy_hits, best_bench_id, best_jaccard,
   * contaminated) with nulls/zeros for clean docs.
   *
   * Same candidate machinery as [[crossCorpusNearDups]] with the
   * broadcast/flagged roles SWAPPED: there the flagged side (the
   * increment) is small and broadcasts; here the flagged side is the
   * CORPUS and the small broadcast side is the benchmark — so the
   * corpus streams past the benchmark's band keys, collision
   * candidates (bounded by band collisions, never N·M) verify against
   * the benchmark's broadcast hash sets, and the only corpus-keyed
   * exchange is the final per-doc aggregate. The best-match pick is
   * the one-aggregation max(struct(j, −bench_id)) argmax.
   */
  def fuzzyDecontaminate(
      corpus: DataFrame, benchmark: DataFrame, threshold: Double = 0.6,
      k: Int = 12, bands: Int = 4, rows: Int = 3,
      maxBroadcastRows: Long = 20000000L): DataFrame = {
    require(maxBroadcastRows >= 1, s"maxBroadcastRows must be >= 1: $maxBroadcastRows")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val (corpusKeyed, corpusSets, _) = signatureChain(corpus, par = true, k, bands, rows)
    val (benchKeyed, benchSets, benchDigs) =
      signatureChain(benchmark, par = false, k, bands, rows)
    // the crossCorpusNearDups guards, with the roles swapped: the
    // BENCHMARK is the broadcast side here — count the materialized
    // digs frame and refuse loudly rather than OOM the driver
    val benchCount = benchDigs.count()
    if (benchCount * bands > maxBroadcastRows) throw new IllegalArgumentException(
      s"fuzzyDecontaminate broadcasts the BENCHMARK side ($benchCount docs x $bands band " +
        s"keys = ${benchCount * bands} rows > maxBroadcastRows=$maxBroadcastRows). The " +
        "operator's contract is an eval-set-sized benchmark screened against a large " +
        "corpus; raise maxBroadcastRows if the cluster has the memory, or run " +
        "minhashNearDups over the union instead.")
    val cands = materialize(corpusKeyed
      .join(broadcast(benchKeyed
          .select(col("doc_id").as("bench_id"), col("band_idx"), col("bucket"))),
        Seq("band_idx", "bucket"))
      .select(col("doc_id"), col("bench_id"))
      .distinct())
    // candidate volume is collision-bounded, but an adversarial
    // hot-bucket corpus can still outgrow a broadcast — above the
    // limit the verify join falls back to a shuffle join (correct,
    // slower, cost proportional to the anomaly), as in cr1
    val candCount = cands.count()
    val candsHinted = if (candCount <= maxBroadcastRows) broadcast(cands) else cands
    val verified = corpusSets
      .join(candsHinted, Seq("doc_id"))
      .join(broadcast(benchSets
          .select(col("doc_id").as("bench_id"), col("hset").as("hset_b"))),
        Seq("bench_id"))
      .withColumn("j", jaccardHashed(col("hset"), col("hset_b")))
      .where(col("j") >= threshold)
    val agg = verified.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_fuzzy_hits"),
      max(struct(col("j").as("j"), (-col("bench_id")).as("neg"))).as("best"))
    corpus.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fuzzy_hits"), lit(0L)).as("n_fuzzy_hits"),
        (-col("best.neg")).as("best_bench_id"),
        round(col("best.j"), 6).as("best_jaccard"),
        coalesce(col("n_fuzzy_hits") >= 1, lit(false)).as("contaminated"))
  }

  /**
   * Cross-corpus MinHash dedup — the production shape of "dedupe an
   * incoming crawl increment against the corpus you already have".
   * Flags each INCOMING document that near-duplicates (Jaccard ≥
   * `threshold` on word 3-gram hash sets) ANY document of the existing
   * CORPUS; returns one row per incoming doc:
   * (doc_id, n_dups, best_match_id, best_jaccard, is_dup), where best
   * = highest Jaccard, ties to the lowest corpus doc_id, and NULL
   * best columns when nothing matched.
   *
   * Scale posture: the incoming batch is the SMALL side (a daily
   * increment vs a 100 TB corpus), so its exploded band keys and its
   * hash sets both ride BROADCAST joins — the corpus is never
   * shuffled: its band keys stream past the broadcast map, and only
   * colliding (incoming, corpus) candidate pairs — bounded by band
   * collisions, not N·M — materialize for the exact-Jaccard verify.
   * The corpus side still pays one map-only pass to (re)compute
   * signatures; in production that pass is amortized by persisting
   * the banded keys + hash sets once and reusing them per increment
   * (both frames are plain columns, so the operator composes with a
   * parquet round-trip of `digs`-derived state unchanged).
   *
   * Broadcast guard (`maxBroadcastRows`): the plan above only works
   * while the incoming side is genuinely small. A caller handing a
   * corpus-sized "increment" would not fail loudly — it would OOM the
   * driver mid-broadcast — so the operator counts the (already
   * materialized) incoming side first and REFUSES above the limit
   * with a message naming the assumption; swap the arguments or run
   * [[minhashNearDups]] over the union instead. The candidate pair
   * set can also outgrow a broadcast on its own (an adversarial batch
   * whose every doc collides with thousands of corpus buckets):
   * candidates are counted after the band join and above the limit
   * the verify join FALLS BACK to a shuffle join — correct, slower,
   * and the corpus-side exchange it pays is exactly proportional to
   * the anomaly.
   */
  def crossCorpusNearDups(
      corpus: DataFrame,
      incoming: DataFrame,
      threshold: Double = 0.6,
      k: Int = 12,
      bands: Int = 4,
      rows: Int = 3,
      maxBroadcastRows: Long = 20000000L): DataFrame = {
    require(maxBroadcastRows >= 1, s"maxBroadcastRows must be >= 1: $maxBroadcastRows")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // same derivation chain as minhashNearDups, per side
    // ([[signatureChain]] — shared with fuzzyDecontaminate)
    val (corpusKeyed, corpusSets, _) = signatureChain(corpus, par = true, k, bands, rows)
    val (incKeyed, incSets, incDigs) = signatureChain(incoming, par = false, k, bands, rows)
    // counting the materialized digs frame is one cheap scan of the
    // checkpoint — the price of failing loudly instead of OOMing
    val incCount = incDigs.count()
    if (incCount * bands > maxBroadcastRows) throw new IllegalArgumentException(
      s"crossCorpusNearDups broadcasts the INCOMING side ($incCount docs x $bands band keys " +
        s"= ${incCount * bands} rows > maxBroadcastRows=$maxBroadcastRows). The operator's " +
        "contract is a small increment screened against a large corpus; swap the arguments, " +
        "raise maxBroadcastRows if the cluster has the memory, or run minhashNearDups over " +
        "the union instead.")
    val cands = materialize(corpusKeyed
      .select(col("doc_id").as("match_id"), col("band_idx"), col("bucket"))
      .join(broadcast(incKeyed), Seq("band_idx", "bucket"))
      .select(col("doc_id"), col("match_id"))
      .distinct())
    // verify joins: the candidate set is collision-sized (bounded by
    // the incoming batch × its collision rate), so it BROADCASTS and
    // the corpus hset scan streams through a broadcast-hash join —
    // without the hint Spark would plan a sort-merge join that
    // shuffles every corpus hset by match_id, exactly the
    // full-corpus exchange this operator exists to avoid. Above
    // maxBroadcastRows (degenerate collision rate) the hint is
    // DROPPED and the verify runs as a shuffle join instead.
    val candCount = cands.count()
    val candsHinted = if (candCount <= maxBroadcastRows) broadcast(cands) else cands
    val verified = corpusSets
      .select(col("doc_id").as("match_id"), col("hset").as("hset_m"))
      .join(candsHinted, Seq("match_id"))
      .join(broadcast(incSets.select(col("doc_id"), col("hset").as("hset_i"))),
        Seq("doc_id"))
      .withColumn("j", jaccardHashed(col("hset_i"), col("hset_m")))
      .where(col("j") >= threshold)
    // one aggregation carries both the count and the arg-max: max of
    // (j, -match_id) structs = highest Jaccard, ties to lowest id —
    // no second shuffle, no window
    val agg = verified.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_dups"),
      max(struct(col("j").as("j"), (-col("match_id")).as("neg"))).as("best"))
    incoming.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (-col("best.neg")).as("best_match_id"),
        round(col("best.j"), 6).as("best_jaccard"),
        coalesce(col("n_dups") >= 1, lit(false)).as("is_dup"))
  }

  /** Exact dedup: canonical = min doc_id sharing the normalized
    * fingerprint. Per-doc output (doc_id, fingerprint, canonical_id,
    * is_dup). One shuffle on the digest. */
  def exactDedup(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // materialized: referenced by both the canonical aggregation and
    // the per-doc join below. graft_norm_fp = the one-pass native
    // kernel, property-tested byte-equal to the composed
    // TextFunctions.normalizedFingerprint (which stays the DuckDB
    // twin); the three regex passes it replaces were the measured
    // bottleneck at 1M docs (~40 s of the 44 s total).
    val fp = materialize(parallelize(docs).select(col("doc_id"),
      call_function("graft_norm_fp", col("text")).as("fingerprint")))
    val canon = fp.groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("canonical_id"))
    fp.join(canon, Seq("fingerprint"))
      .select(col("doc_id"), col("fingerprint"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  /**
   * Sub-document (chunk-level) exact dedup — the corpus-wide repeated-
   * passage removal step of CCNet/RefinedWeb-style pipelines (CCNet
   * dedups repeated LINES across shards; Lee et al. 2022 "Deduplicating
   * Training Data Makes Language Models Better" shows repeated spans,
   * not just whole documents, drive memorization). Documents split
   * into DISJOINT `chunkTokens`-token windows (the line analog for
   * unstructured token streams; the final partial window is a chunk);
   * a chunk occurrence is a duplicate iff the same chunk text appears
   * anywhere else in the corpus and this occurrence is not the
   * canonical first (lowest (doc_id, position)). Per-doc output:
   * (doc_id, n_chunks, n_dup_chunks, n_removed, kept_md5) where
   * n_dup_chunks counts occurrences whose text repeats ANYWHERE
   * (including the kept canonical copy), n_removed counts the
   * occurrences dropped, and kept_md5 digests the document with its
   * removed chunks excised (space-rejoined in position order) — the
   * deduplicated corpus, one digest per doc.
   *
   * Scale shape: one explode (~n_tokens/chunkTokens rows per doc), one
   * shuffle on the chunk hash for the canonical-occurrence aggregate,
   * one hash join back on the same key (AQE-splittable if a chunk is
   * pathologically frequent — deliberately NOT a window over the hash,
   * which would pin a hot chunk's occurrences to one task), one
   * shuffle back on doc_id to reassemble. Chunk identity is md5 of the
   * chunk text — portable verbatim to the DuckDB twin, no custom hash
   * arithmetic.
   *
   * Memory footprint note (capacity planning at 100 TB): the exploded
   * occurrence frame is materialized WITH its chunk text — the default
   * localCheckpoint store holds roughly one extra copy of the corpus
   * text for the operator's duration (the barrier feeds both the
   * canonical aggregate and the join back, and re-tokenizing the
   * corpus per consumer measured worse at 1M docs). Deployments where
   * that resident copy doesn't fit should switch the barrier to disk
   * (`spark.graft.materialize.mode = persist`, DISK_ONLY_2) — or
   * materialize only (doc_id, idx, h) and recompute chunk text on the
   * reassembly side, trading a second tokenization pass for the store.
   */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1: $chunkTokens")
    val ct = chunkTokens
    // tokens hoisted into their own projection below the Generate (the
    // ck1 idiom): the chunk lambda then slices an ATTRIBUTE — the
    // inline form re-ran the tokenizer once per chunk (the HofAudit
    // per-element recompute class, O(tokens²/ct) per doc)
    val toks = col("toks")
    val nChunks = ((size(toks) + lit(ct - 1)) / lit(ct)).cast("int")
    // guard: sequence(0, -1) DESCENDS in Spark — empty docs must map
    // to an empty chunk array, not a [0, -1] index list
    val chunks = when(size(toks) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * ct + 1, lit(ct)), " ")))
      .otherwise(array().cast("array<string>"))
    val occ = materialize(parallelize(docs)
      .select(col("doc_id"),
        graft.functions.TextFunctions.wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(chunks).as(Seq("idx", "chunk")))
      .withColumn("h", md5(col("chunk"))))
    val canon = occ.groupBy(col("h")).agg(
      count(lit(1)).as("n_occ"),
      min(struct(col("doc_id").as("d"), col("idx").as("i"))).as("first"))
    val flagged = occ.join(canon, Seq("h"))
      .withColumn("rm", col("n_occ") > 1 &&
        !(col("doc_id") === col("first.d") && col("idx") === col("first.i")))
    val perDoc = flagged.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
      sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
      md5(array_join(
        transform(
          array_sort(collect_list(when(!col("rm"),
            struct(col("idx").as("i"), col("chunk").as("c"))))),
          x => x.getField("c")),
        " ")).as("kept_md5"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /**
   * Quality-aware canonical selection: production near-dup pipelines
   * keep the BEST member of each duplicate cluster, not the
   * lowest-id one (C4 keeps the longest, RefinedWeb/FineWeb keep by
   * quality score). Input: a cluster assignment (doc_id, cluster_id,
   * cluster_size, ...) and a per-doc quality frame (doc_id,
   * quality6 — a ROUNDED score, so the selection rule is portable by
   * construction); output adds `quality6` and `keep` = this doc is
   * its cluster's highest-quality member, ties to the lowest doc_id.
   *
   * The quality frame must cover EVERY cluster member: a member with
   * no (or NULL) quality fails LOUDLY rather than being silently
   * dropped (the engine's guard convention) — a partial quality frame
   * would otherwise skew cluster_size vs visible members and could
   * crown a lower-quality survivor; a NULL score has no defined rank.
   *
   * Scale posture: the per-cluster top-1 is the aggregate-argmax
   * shape (`max(struct(quality6, -doc_id))` — the r8 lesson: ~one
   * partial-aggregated row per cluster through the exchange, no
   * sort), then one hash join back on cluster_id. Singleton clusters
   * (most of any corpus) partial-combine map-side to one row each.
   */
  def canonicalByQuality(clusters: DataFrame, quality: DataFrame): DataFrame = {
    // per-cluster argmax as a WINDOW max instead of barrier + agg +
    // join-back: the window form has exactly ONE consumer chain, so
    // the localCheckpoint, the aggregate's exchange and the
    // cluster-keyed join all collapse into one hash(cluster_id)
    // exchange + partition-local sort (guide §2.4 — the aggregate and
    // the join were keyed the same way; here they fuse outright).
    // max(struct(q, -id)) over the partition reproduces the exact
    // (quality DESC, doc_id ASC) ranking the old agg computed.
    val w = Window.partitionBy(col("cluster_id"))
    clusters.select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .join(quality, Seq("doc_id"), "left")
      .withColumn("quality6",
        when(col("quality6").isNotNull, col("quality6"))
          .otherwise(raise_error(concat(
            lit("canonicalByQuality: no quality score for doc "),
            col("doc_id").cast("string")))))
      .withColumn("best",
        max(struct(col("quality6").as("q"), (-col("doc_id")).as("neg_id"))).over(w))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality6"),
        (col("quality6") === col("best.q") &&
          col("doc_id") === -col("best.neg_id")).as("keep"))
  }

  /**
   * Substring-level exact dedup (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better" — the EXACTSUBSTR
   * protocol): flag every token position covered by a length-`l`
   * token window whose content occurs ≥ 2 times ANYWHERE in the
   * corpus (including within the same document), merge the flagged
   * windows into maximal intervals, and report per-document coverage:
   * (doc_id, n_tokens, n_grams, dup_starts, covered_tokens, dup_frac,
   * keep). `keep` compares the ROUNDED fraction against `maxDupFrac`
   * so the boolean is portable by construction (the cu1 threshold
   * trick).
   *
   * `keepFirst = true` is the paper's removal semantics: ONE copy of
   * each duplicated window survives — the globally-first occurrence
   * (lowest (doc_id, pos), the ld1 canonical convention) is not
   * flagged, so a corpus-unique document that happens to be the first
   * holder of a later-duplicated span keeps it. The canonical pick is
   * `min(struct(doc_id, pos))` per gram — partial-combined map-side,
   * so a 100k-occurrence boilerplate gram still never pins a task
   * (a per-gram row_number window would).
   *
   * The paper's suffix-array machinery is a single-node
   * construction; over a cluster the identical "any repeated length-l
   * window" predicate is the corpus-wide occurrence count of each
   * overlapping l-gram — pure relational algebra, no suffix sort.
   *
   * Gram identity is the 63-BIT packed hash (`graft_shingle_hashes63`
   * — two md5 words, max exactly 2^63−1, portable signed-BIGINT
   * arithmetic on both engines): unlike the banding operators, where
   * a hash collision only costs verify work, here `occ ≥ 2` IS the
   * semantics, and a 32-bit key saturates by pigeonhole past ~10^9
   * distinct grams (a Lee-et-al-sized corpus carries 10^10–10^11 —
   * every 32-bit value would be occupied many times over and the
   * operator would flag the whole corpus). At 10^11 grams the 63-bit
   * birthday bound is ~500 colliding pairs corpus-wide — negligible.
   *
   * Scale posture: one pass emits (doc_id, pos, gram-hash) — longs
   * only, the text never leaves the scan. The occurrence count is a
   * hash aggregate on the gram hash with map-side partial combine
   * (hot grams — boilerplate phrases — combine before the exchange);
   * the dup-gram join back is an AQE-splittable shuffle hash join on
   * the same key (the dup side carries one row per distinct duplicated
   * gram). Interval merge is the standard running-max-end window
   * PARTITIONED BY doc_id over dup starts only (bounded by dup
   * occurrences, not corpus tokens). No global sort, no driver-side
   * state; every exchange is keyed by the 63-bit gram hash or doc_id.
   */
  def substringDedup(
      docs: DataFrame, l: Int = 5, maxDupFrac: Double = 0.5,
      keepFirst: Boolean = false): DataFrame = {
    require(l >= 1, s"window length must be >= 1: $l")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // barrier: the (pos, gram-hash) explode feeds both the corpus-wide
    // count and the join back — without it the scan+hash runs twice
    val base = materialize(parallelize(docs).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
      call_function("graft_shingle_hashes63", col("text"), lit(l)).as("gs")))
    val occ = materialize(
      base.select(col("doc_id"), posexplode(col("gs")).as(Seq("pos", "g"))))
    val dupStarts =
      if (!keepFirst) {
        val dup = occ.groupBy(col("g")).agg(count(lit(1)).as("occ"))
          .where(col("occ") >= 2).select(col("g"))
        occ.join(dup, Seq("g")).select(col("doc_id"), col("pos"))
      } else {
        // canonical first occurrence survives: min(struct) partial-
        // combines map-side (hot grams stay unpinned); the N:1 join
        // back excludes exactly that one occurrence per gram
        val canon = occ.groupBy(col("g")).agg(count(lit(1)).as("occ"),
          min(struct(col("doc_id"), col("pos"))).as("first"))
          .where(col("occ") >= 2)
        occ.join(canon, Seq("g"))
          .where(!(col("doc_id") === col("first.doc_id") &&
            col("pos") === col("first.pos")))
          .select(col("doc_id"), col("pos"))
      }
    // merged-interval coverage: a start opens a NEW interval iff it
    // lies at/after the running max end of everything before it; all
    // windows share length l, so a merged group covers exactly
    // [min(pos), max(pos) + l)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(l))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val grouped = dupStarts
      .withColumn("new_grp",
        when(prevEnd.isNull || col("pos") >= prevEnd, 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("new_grp")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val cov = grouped.groupBy(col("doc_id"), col("grp"))
      .agg((max(col("pos")) + lit(l) - min(col("pos"))).as("len"),
        count(lit(1)).as("starts"))
      .groupBy(col("doc_id"))
      .agg(sum(col("len")).cast("long").as("covered_tokens"),
        sum(col("starts")).cast("long").as("dup_starts"))
    val frac = round(
      when(col("n_tokens") === 0, lit(0.0))
        .otherwise(col("covered_tokens").cast("double") / col("n_tokens")), 6)
    base.select(col("doc_id"), col("n_tokens"),
      size(col("gs")).cast("long").as("n_grams"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_grams"),
        coalesce(col("dup_starts"), lit(0L)).as("dup_starts"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("dup_frac", frac)
      .withColumn("keep", col("dup_frac") <= lit(maxDupFrac))
  }
}
