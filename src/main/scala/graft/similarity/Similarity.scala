package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CentroidKernel

/**
 * Similarity search over an embedding column (`array<float>`) —
 * north-star extension (BASELINE.json), no reference counterpart.
 *
 * All scoring paths pre-normalize vectors (codegen'd inline norm — see
 * [[normalized]]), so each scored pair costs exactly one 64-element
 * dot product. Operators:
 *
 *  - [[bruteForceTopK]]: exact top-k for a (small) query set against
 *    the full corpus: broadcast the queries, one scan of the corpus,
 *    per-query ranking window. O(|Q|·N), the corpus side streams;
 *  - [[ivfTopK]]: the scale path. A fixed centroid set partitions the
 *    corpus (assignment = a per-row nearest-centroid projection against
 *    the driver-held centroids, computed where the data lives); a
 *    query probes only its `nProbe` nearest centroids'
 *    cells. At 100 TB the cell id doubles as the physical partition
 *    key so a probe touches only matching partitions;
 *  - [[nearDupPairs]]: EXACT cosine ≥ threshold pairs via a blocked
 *    chunk-pair self-join (no broadcast, bounded per-task memory);
 *  - [[lshNearDupPairs]]: the approximate scale variant — sign-LSH
 *    candidates + the same exact verify (recall < 1 by design).
 *
 * Determinism: ties order by ascending id; all arithmetic is double.
 */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Codegen'd dot product via the native [[graft.functions.DotProduct]]
    * expression — a left-to-right fold (bit-reproducible, mirrored in
    * the DuckDB oracle), ~10× an interpreted `aggregate(zip_with)` per
    * call on the N² pair-scoring paths. Requires [[ensureRegistered]]
    * on the session (operators below do it). */
  def fastDot(x: Column, y: Column): Column = call_function("graft_dot", x, y)

  private def ensureRegistered(df: DataFrame): Unit =
    graft.functions.GraftFunctions.register(df.sparkSession)

  /** (id, emb) with emb cast to double and scaled to unit norm. The
    * norm is the codegen'd [[fastDot]] written INSIDE the divide lambda:
    * projection collapse re-evaluates it per element, but that is 64
    * extra primitive flops per element — orders of magnitude cheaper
    * than the exchange-plus-checkpoint barrier it replaces (the original
    * concern was the interpreted HOF norm, where per-element re-eval
    * was 64× an allocation-heavy lambda chain). `spread` repartitions
    * corpus-sized inputs for the CPU-bound scoring that follows; query/
    * centroid frames skip it (they broadcast anyway). */
  private[graft] def normalized(df: DataFrame, idOut: String, embOut: String,
      spread: Boolean = true, labOut: Option[String] = None): DataFrame = {
    ensureRegistered(df)
    val base = if (spread) graft.dedup.Dedup.parallelize(df) else df
    val emb = col("embedding").cast("array<double>")
    base.select(Seq(col("vec_id").as(idOut),
      transform(emb, x => x / sqrt(call_function("graft_dot", emb, emb))).as(embOut)) ++
      labOut.map(col("label").as(_)): _*)
  }

  /** ONE normalized + barriered corpus frame `(vec_id, emb)` to share
    * across the similarity operators of a single query (guide §1.2 —
    * don't compute things twice): queries that compose two operators
    * over the SAME corpus (train + search, exact + approximate)
    * otherwise pay the full normalize pass and its checkpoint write
    * once PER OPERATOR. Pass the result as the operators' `prenorm`
    * argument; each consumer renames columns with a projection over
    * the checkpoint scan (no recompute). Results are bit-identical:
    * the operators' own barrier uses the same expression over the
    * same rows. */
  def normalizedCorpus(corpus: DataFrame): DataFrame =
    graft.dedup.Dedup.materialize(normalized(corpus, "vec_id", "emb"))

  /** [[normalizedCorpus]] with the `label` column carried — the
    * shared frame for the hard-negative pair (exact + IVF miners). */
  def normalizedLabeledCorpus(corpus: DataFrame): DataFrame =
    graft.dedup.Dedup.materialize(normalized(corpus, "vec_id", "emb", labOut = Some("label")))

  /** Driver-held centroids in cid order, from [[collectVecsOf]]'s raw
    * rows: `rows` = (cid, unit embedding), normalized here with
    * [[normalized]]'s op sequence (left-to-right dot, sqrt, divide), so
    * the bits equal the column form's; `cids`/`flat` are the reference
    * state of [[graft.functions.NearestCentroid]]. O(k·dim), the bounded
    * state [[kmeansCentroids]] and the PQ codebooks hold too. */
  private[graft] final class Centroids(raw: Array[(Long, Array[Double])], what: String) {
    val rows: Array[(Long, Array[Double])] = raw.map { case (cid, e) =>
      val nrm = math.sqrt(e.foldLeft(0.0)((s, x) => s + x * x))
      require(nrm != 0.0, s"$what: centroid $cid has zero norm")
      (cid, e.map(_ / nrm))
    }
    val cids: Array[Long] = rows.map(_._1)
    val flat: Array[Double] = rows.flatMap(_._2)

    /** Top-1 cell of a normalized embedding column (NULL: lowest cid). */
    def nearest(emb: Column): Column =
      call_function("graft_nearest_cid", emb, typedlit(flat), typedlit(cids))
  }

  /** Collect a `(vec_id, embedding)` centroid frame (one collect); a
    * NULL, ragged or zero-norm centroid fails by name. */
  private[graft] def centroidsOf(centroids: DataFrame, what: String = "centroids"): Centroids =
    new Centroids(collectVecsOf(centroids, -1, what), what)

  /** Each query's `nProbe` nearest cells: (query_id, q_emb, …, cid)
    * ranked (cos DESC, cid ASC) over the query × centroid cross. The
    * query side is small, so the rank window runs over |Q|·k rows. */
  private def topCells(queries: DataFrame, cent: Centroids, nProbe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_p").desc, col("cid"))
    queries.crossJoin(broadcast(queries.sparkSession.createDataFrame(cent.rows.toSeq)
        .toDF("cid", "cent_emb")))
      .withColumn("cos_p", fastDot(col("q_emb"), col("cent_emb")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= nProbe)
  }

  /**
   * Exact cosine top-k: for each row of `queries` (vec_id, embedding),
   * the k nearest rows of `corpus` (excluding the query itself).
   * Returns (query_id, neighbor_id, rank, cos).
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int = 5,
      prenorm: Option[DataFrame] = None): DataFrame =
    exactSearch(queries, corpus, k, prenorm, labeled = false)

  /**
   * IVF-style approximate top-k: `centroids` partition the corpus into
   * cells (nearest-centroid assignment); each query searches only the
   * cells of its `nProbe` nearest centroids. Same output shape as
   * [[bruteForceTopK]]; recall < 1 by design.
   *
   * The centroids are collected to the driver (O(k)); corpus→cell
   * assignment is top-1, so it is the `graft_nearest_cid` projection
   * over the corpus scan — no join, no exchange. The probe stage stays
   * a window because it needs top-nProbe, and it runs over the small
   * query side only.
   */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      k: Int = 5,
      nProbe: Int = 3,
      prenorm: Option[DataFrame] = None): DataFrame =
    ivfSearch(queries, corpus, centroids, k, nProbe, prenorm, labeled = false)

  /**
   * Hard-negative mining over the IVF probe chain: for each query, the
   * k nearest corpus vectors whose `label` DIFFERS from the query's —
   * the pair-construction step of contrastive embedding training
   * (the "in-batch negatives aren't hard enough" fix: mine negatives
   * that are semantically close but labeled apart). Same retrieval
   * semantics as [[ivfTopK]] (nearest-centroid cells, `nProbe` probed
   * cells per query, cosine ranking with ascending-id ties), with the
   * label-mismatch predicate applied BEFORE the top-k window — a
   * post-filter on [[ivfTopK]]'s output would return fewer than k
   * negatives whenever same-label neighbors crowd the top.
   *
   * Scale posture = s2's: labels ride as plain columns (the corpus
   * label through the assignment projection, the query label through
   * the broadcast probe frame), so the plan has ZERO joins/exchanges
   * beyond ivfTopK's own. `prenorm` = a shared
   * [[normalizedLabeledCorpus]] checkpoint.
   * Output: (query_id, q_label, neighbor_id, n_label, rank, cos).
   */
  def ivfHardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      k: Int = 5,
      nProbe: Int = 3,
      prenorm: Option[DataFrame] = None): DataFrame =
    ivfSearch(queries, corpus, centroids, k, nProbe, prenorm, labeled = true)

  /**
   * Exact hard negatives — [[ivfHardNegatives]]' ground truth: the k
   * nearest DIFFERENT-label corpus vectors per query by full scan
   * (no cells, no probes). Same output shape and tie rules; the
   * recall of the IVF path against this is the `rc3_hn_recall` key
   * (the rc1 discipline: every approximate path ships its measured
   * recall). O(|Q|·N) — audit/calibration sizes only; the IVF form
   * is the one that serves traffic.
   */
  def bruteForceHardNegatives(
      queries: DataFrame, corpus: DataFrame, k: Int = 5,
      prenorm: Option[DataFrame] = None): DataFrame =
    exactSearch(queries, corpus, k, prenorm, labeled = true)

  /** The two sides every top-k search scores: queries (query_id, q_emb
    * [, q_label]) and the corpus (neighbor_id, c_emb [, n_label]). The
    * corpus is barriered — scored against a broadcast side, an
    * unbarriered normalize re-evaluates per (row × query) pair, the
    * binary-screen finding — or arrives pre-normalized as a rename over
    * a shared [[normalizedCorpus]] checkpoint. */
  private def searchSides(queries: DataFrame, corpus: DataFrame,
      prenorm: Option[DataFrame], labeled: Boolean): (DataFrame, DataFrame) = {
    def lab(name: String) = if (labeled) Some(name) else None
    val q = normalized(queries, "query_id", "q_emb", spread = false, lab("q_label"))
    val c = prenorm
      .map(_.select(Seq(col("vec_id").as("neighbor_id"), col("emb").as("c_emb")) ++
        lab("n_label").map(col("label").as(_)): _*))
      .getOrElse(graft.dedup.Dedup.materialize(
        normalized(corpus, "neighbor_id", "c_emb", labOut = lab("n_label"))))
    (q, c)
  }

  /** Each query's top k of its candidate pairs by (cos DESC,
    * neighbor_id), the query itself excluded — and, when `labeled`,
    * same-label neighbors too, BEFORE the window. */
  private def rankTopK(pairs: DataFrame, k: Int, labeled: Boolean): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val other = col("query_id") =!= col("neighbor_id")
    def lab(name: String) = if (labeled) Seq(col(name)) else Nil
    pairs.where(if (labeled) other && col("q_label") =!= col("n_label") else other)
      .withColumn("cos", fastDot(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(Seq(col("query_id")) ++ lab("q_label") ++ Seq(col("neighbor_id")) ++
        lab("n_label") ++ Seq(col("rank"), round(col("cos"), 4).as("cos")): _*)
  }

  private def exactSearch(queries: DataFrame, corpus: DataFrame, k: Int,
      prenorm: Option[DataFrame], labeled: Boolean): DataFrame = {
    val (q, c) = searchSides(queries, corpus, prenorm, labeled)
    rankTopK(c.join(broadcast(q)), k, labeled)
  }

  private def ivfSearch(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int, prenorm: Option[DataFrame], labeled: Boolean): DataFrame = {
    val cent = centroidsOf(centroids)
    val (q, c) = searchSides(queries, corpus, prenorm, labeled)
    val probes = broadcast(topCells(q, cent, nProbe).drop("cent_emb", "cos_p", "rn"))
    rankTopK(probes.join(c.withColumn("cid", cent.nearest(col("c_emb"))), Seq("cid")), k, labeled)
  }

  /**
   * Deterministic spherical k-means centroid training for IVF: seed
   * with `vec_id % (N/k)`-style fixed picks (caller supplies the seed
   * frame), then `iters` Lloyd rounds — assign by cosine (ties to the
   * lowest centroid id), recompute each centroid as the re-normalized
   * element-wise mean of its members, components rounded to 6 decimals
   * so runs are reproducible across platforms. Returns (cid,
   * embedding) ready to feed [[ivfTopK]]; clusters left empty drop
   * out. The centroids are O(k) and live on the driver (as in MLlib's
   * KMeans), so a round is ONE job with no exchange: a `mapPartitions`
   * over the normalized rows returns each partition's [[LloydStats]],
   * merged on the driver in partition-index order. With `prenorm` the
   * call runs 1 + `iters` jobs: the seed collect and one per round.
   */
  def kmeansCentroids(corpus: DataFrame, seeds: DataFrame, iters: Int = 3,
      prenorm: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    ensureRegistered(corpus)
    // reused every Lloyd round — one eager barrier, read iters times
    // (fault-tolerance knob: graft.Materialize / spark.graft.materialize.mode);
    // a shared [[normalizedCorpus]] checkpoint skips both
    val rows = prenorm.getOrElse(graft.Materialize.barrier(normalized(corpus, "vec_id", "emb")))
      .select(col("emb")).queryExecution.toRdd
    var cents = centroidsOf(seeds, "kmeansCentroids seeds").rows
    val dim = cents.headOption.fold(0)(_._2.length)
    (0 until iters).foreach { _ =>
      val k = cents.length
      val cids = cents.map(_._1)
      val flat = cents.flatMap(_._2)
      val stats = rows.mapPartitions { it =>
        val st = new LloydStats(k, dim)
        it.foreach(r => st.add(if (r.isNullAt(0)) null else r.getArray(0), flat, cids))
        Iterator(st)
      }.collect().foldLeft(new LloydStats(k, dim))(_ merge _)
      // the fixed-dimension invariant the per-dimension sums assume
      // (ADVICE r20): a shorter vector would silently skew the mean —
      // fail loudly instead; a NULL embedding (size -1) too.
      val meaned = (0 until k).filter(stats.cnt(_) > 0).map { c =>
        require(stats.dmin(c) == dim && stats.dmax(c) == dim,
          s"kmeansCentroids: corpus embeddings must all have the seed " +
            s"dimension $dim (cluster ${cids(c)} saw sizes " +
            s"${stats.dmin(c)}..${stats.dmax(c)}; -1 = null embedding)")
        (cids(c), (0 until dim).map(p => stats.sum(c * dim + p) / stats.cnt(c).toDouble))
      }
      cents = meaned.map { case (cid, mean) =>
        // same arithmetic as the distributed form: left-to-right
        // sum-of-squares, then half-away-from-zero rounding of each
        // component written as explicit IEEE ops (floor(|u|·1e6 + 0.5))
        // — the same trick quantizeInt8Stats uses — so the DuckDB twin
        // reproduces the rounding bit-for-bit (a BigDecimal HALF_UP
        // here and a double-arithmetic ROUND there could disagree on
        // representation boundaries)
        val nrm = math.sqrt(mean.foldLeft(0.0)((acc, v) => acc + v * v))
        val unit = mean.map { v =>
          val u = v / nrm
          if (u >= 0) math.floor(u * 1e6 + 0.5) / 1e6
          else -(math.floor(-u * 1e6 + 0.5) / 1e6)
        }
        (cid, unit.toArray)
      }.toArray.sortBy(_._1)
    }
    cents.toSeq.toDF("vec_id", "embedding")
  }

  /** One partition's share of a Lloyd round: per-cluster member count,
    * embedding-size range (a NULL embedding counts as -1) and
    * per-dimension sums (`sum(c·dim + p)`, in row order). */
  private final class LloydStats(k: Int, dim: Int) extends Serializable {
    val cnt = new Array[Long](k)
    val dmin: Array[Int] = Array.fill(k)(Int.MaxValue)
    val dmax: Array[Int] = Array.fill(k)(Int.MinValue)
    val sum = new Array[Double](k * dim)

    def add(emb: ArrayData, flat: Array[Double], cids: Array[Long]): Unit = {
      val c = CentroidKernel.nearestIndex(emb, flat, cids)
      if (c < 0) return // no centroids at all
      val size = if (emb == null) -1 else emb.numElements()
      cnt(c) += 1
      dmin(c) = math.min(dmin(c), size)
      dmax(c) = math.max(dmax(c), size)
      (0 until math.min(size, dim)).foreach(p => sum(c * dim + p) += emb.getDouble(p))
    }

    def merge(o: LloydStats): LloydStats = {
      for (c <- 0 until k) {
        cnt(c) += o.cnt(c); dmin(c) = math.min(dmin(c), o.dmin(c)); dmax(c) = math.max(dmax(c), o.dmax(c))
      }
      for (i <- sum.indices) sum(i) += o.sum(i)
      this
    }
  }

  /**
   * SemDeDup — semantic deduplication via cluster-then-compare
   * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication"): cluster the corpus
   * with spherical k-means ([[kmeansCentroids]] supplies the trained
   * centroids), then compare pairs only WITHIN a cluster and flag
   * every vector that has a near-duplicate (cos ≥ `threshold`) with a
   * smaller vec_id in its cluster — the deterministic keep-lowest-id
   * representative rule. Returns one row per corpus vector:
   * (vec_id, cluster_id, n_prior_dups, is_dup); the kept set is
   * `!is_dup`.
   *
   * Scale shape: centroids are O(k) and collected to the driver;
   * assignment is the `graft_nearest_cid` projection over the corpus
   * scan — no join, no exchange, the same (cos DESC, cid) selection
   * the s3 gate proves stable cross-engine (a vector with a NULL
   * embedding lands in the lowest cid, with no pairs); the within-cluster
   * pair scan shuffles once on cluster_id
   * and does Σ|c|² work instead of N² — the SemDeDup control knob is
   * k ∝ N so the expected cluster size stays constant and total work
   * stays ~N·E|c|. The self-join renames columns per side (a plan
   * reusing one attribute set degenerates to a filtered cross join)
   * and reads a materialized assignment so the normalize+assign chain
   * runs once, not once per join branch.
   */
  def semDedup(
      corpus: DataFrame,
      centroids: DataFrame,
      threshold: Double,
      prenorm: Option[DataFrame] = None): DataFrame = {
    ensureRegistered(corpus)
    val cent = centroidsOf(centroids)
    // barrier: the assignment has three consumers (both self-join
    // sides + the join-back)
    val assigned = graft.dedup.Dedup.materialize(
      prenorm.getOrElse(normalized(corpus, "vec_id", "emb"))
        .select(col("vec_id"), col("emb"), cent.nearest(col("emb")).as("cid")))
    val lhs = assigned.select(col("cid"), col("vec_id").as("id_a"), col("emb").as("emb_a"))
    val rhs = assigned.select(col("cid"), col("vec_id").as("id_b"), col("emb").as("emb_b"))
    val priorDups = lhs.join(rhs, Seq("cid"))
      .where(col("id_a") < col("id_b"))
      .where(fastDot(col("emb_a"), col("emb_b")) >= threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).as("n_prior_dups"))
    assigned.select(col("vec_id"), col("cid").as("cluster_id"))
      .join(priorDups, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("cluster_id"),
        coalesce(col("n_prior_dups"), lit(0L)).as("n_prior_dups"),
        coalesce(col("n_prior_dups") >= 1, lit(false)).as("is_dup"))
  }

  /**
   * EXACT embedding near-duplicate pairs: cosine ≥ threshold,
   * id-ordered. Exact all-pairs is inherently Θ(N²) dot products —
   * no candidate generator can prune below a mid-range threshold
   * (the driver data's 0.45 sits ~4σ above the random-pair cosine
   * distribution but far below LSH-separable territory; measured:
   * sign-LSH needs >200 bands for full recall there, at which point
   * candidates exceed N²/2). What CAN be fixed is the memory/
   * distribution shape, and this is the blocked form that fixes it:
   *
   * split the corpus into `blocks` hash chunks, materialize the
   * (i ≤ j) chunk-pair index, and shuffle each chunk to its pair
   * tasks — a triangle self-join. Versus the old broadcast
   * nested-loop (dead at scale: the full corpus must fit in every
   * executor AND the driver), this shape has no broadcast, no
   * driver-side state, replicates each row only (blocks+1) times
   * into the shuffle, bounds any join key's build side to N/blocks
   * rows, and spreads the N²/2 verify over blocks²/2 independent
   * tasks. Default `blocks` ≈ √(2·shuffle.partitions) keeps task
   * count ≳ cluster parallelism.
   *
   * At web scale use [[lshNearDupPairs]] (bounded candidates,
   * recall < 1 by design) with a realistic (≥ 0.9) threshold.
   */
  def nearDupPairs(corpus: DataFrame, threshold: Double, blocks: Int = 0): DataFrame = {
    ensureRegistered(corpus)
    val spark = corpus.sparkSession
    import spark.implicits._
    val parts = scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    // chunk-pair count ≈ nb²/2 must EXCEED the shuffle partition count
    // several-fold: the join hash-bins pair keys into partitions, and
    // with pairs ≈ partitions the binomial collisions stack 4-5 heavy
    // pairs into one task (measured at 200k vecs: maxTask 302 s of a
    // 371 s wall). ~4 pairs per partition on average smooths the bins
    // — dot-product work is uniform per pair, so this is pure
    // granularity, invisible to AQE's byte-based skew split.
    val nb = if (blocks > 0) blocks else math.max(4, math.ceil(math.sqrt(8.0 * parts)).toInt)
    // two consumers (left/right of the self-join) → eager barrier,
    // same rationale as Dedup.materialize
    val v = graft.dedup.Dedup.materialize(normalized(corpus, "id", "emb")
      .withColumn("blk", pmod(xxhash64(col("id")), lit(nb.toLong))))
    val idx = broadcast(
      (for (i <- 0 until nb; j <- i until nb) yield (i.toLong, j.toLong)).toDF("bi", "bj"))
    val left = v.join(idx, col("blk") === col("bi"))
      .select(col("bi"), col("bj"), col("id").as("id_a"), col("emb").as("emb_a"))
    val right = v.join(idx, col("blk") === col("bj"))
      .select(col("bi"), col("bj"), col("id").as("id_b"), col("emb").as("emb_b"))
    left.join(right, Seq("bi", "bj"))
      // off-diagonal chunk pairs meet exactly once (as min-chunk,
      // max-chunk) with arbitrary id order — order ids on output, and
      // apply a < filter only on the diagonal where both orders occur
      .where(col("bi") =!= col("bj") || col("id_a") < col("id_b"))
      .withColumn("cos", fastDot(col("emb_a"), col("emb_b")))
      .where(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(col("cos"), 4).as("cos"))
  }

  /** EMBEDDING-SPACE DECONTAMINATION — dc1's benchmark-overlap screen
    * lifted from exact grams to semantic space: per corpus vector,
    * the max cosine against the EVAL slice, and the contamination
    * flag (raw-double threshold compare — the max is the identical
    * IEEE value on both engines because every pair dot is). Catches
    * the paraphrased-benchmark leak that gram screens (dc1/dc3/bf1)
    * miss entirely — the embedding-similarity decontamination step of
    * modern pretraining pipelines.
    *
    * Scale shape: the dc1 posture exactly — the EVAL side is small by
    * nature (benchmarks are bounded) and BROADCASTS; the corpus scans
    * ONCE and never shuffles; the per-vector max is a partial-combined
    * aggregate. An oversized eval slice fails at broadcast build like
    * cr1 (loud), with [[nearDupPairs]]' blocked self-join as the
    * stated fallback shape. */
  def embeddingDecontaminate(
      vecs: DataFrame, isEval: Column => Column, threshold: Double): DataFrame = {
    val v = normalized(vecs, "vid", "emb")
    val eval = v.where(isEval(col("vid"))).select(col("emb").as("e_emb"))
    // barrier: corp feeds BOTH the scored cross-join and the output
    // base — unbarriered, the corpus scan + normalization ran twice
    // (review finding), contradicting the scans-ONCE contract below.
    // Size-gated (ft1/au1 precedent): below the threshold the double
    // scan is cheaper than the checkpoint write
    val corp = graft.Materialize.barrierAbove(
      v.where(!isEval(col("vid"))), sizeOf = vecs)
    val scored = corp.crossJoin(broadcast(eval))
      .withColumn("cos", fastDot(col("emb"), col("e_emb")))
      .groupBy(col("vid")).agg(max(col("cos")).as("mc"))
    corp.select(col("vid"))
      .join(scored, Seq("vid"), "left")
      .select(col("vid"),
        round(col("mc"), 4).as("max_cos4"),
        coalesce(col("mc") >= lit(threshold), lit(false)).as("contaminated"))
  }

  /** BUCKETED embedding decontamination — [[embeddingDecontaminate]]'s
    * 100 TB fallback, named in its scaladoc: when the eval slice is
    * too large to broadcast-cross every corpus vector (dc4 is
    * O(|corpus|·|eval|) dots), sign-LSH banding (the x6 machinery)
    * generates (corpus, eval) CANDIDATES and only those pairs pay a
    * dot product. Recall < 1 by design (like x6/s2): a contaminated
    * vector whose every band misses the eval side scores null —
    * `max_cos4` is a LOWER bound and `contaminated` can only
    * under-flag, never over-flag (candidates verify exactly).
    *
    * Scale shape: the corpus explodes ×bands (a map — no shuffle),
    * the EVAL band table broadcasts (benchmarks are bounded), dots
    * run only on band collisions, and the per-vector max is one
    * partial-combined aggregate. No distinct on candidates: a pair
    * colliding in several bands scores several times, MAX is
    * insensitive, and the duplicate dots are cheaper than a
    * pair-keyed shuffle. Flop ratio vs dc4 ≈ collision rate
    * (measured in the ScaleSmoke dc4 section). */
  def embeddingDecontaminateLsh(
      vecs: DataFrame, isEval: Column => Column, threshold: Double,
      bits: Int = 16, bands: Int = 8, dim: Int = 64): DataFrame = {
    ensureRegistered(vecs)
    val v = normalized(vecs, "vid", "emb")
    val corp = graft.Materialize.barrierAbove(
      v.where(!isEval(col("vid"))), sizeOf = vecs)
    val eval = v.where(isEval(col("vid")))
    def banded(df: DataFrame, id: String, emb: String) = df.select(
      col("vid").as(id), col("emb").as(emb),
      posexplode(call_function("graft_sign_bands",
        col("emb"), lit(bits), lit(bands), lit(dim))).as(Seq("bi", "bk")))
    // broadcast only while the banded eval side (bands × |eval| rows)
    // plausibly fits an executor; an unexpectedly large eval slice
    // must degrade to a shuffle join, not a broadcast OOM (ADVICE r13)
    val evalBanded = banded(eval, "eid", "e_emb")
    val evalMaxBytes = scala.util.Try(vecs.sparkSession.conf
      .get("spark.graft.dc5.broadcastMaxBytes").toLong)
      .getOrElse(512L * 1024 * 1024)
    // estimate from the COLUMN-PRUNED banded plan, not the raw filter
    // (ADVICE r14): without CBO a Filter barely shrinks its child's
    // sizeInBytes, so the old `eval.stats × bands` read as roughly the
    // whole corpus and silently disabled the broadcast for tiny eval
    // slices. The banded plan's estimate is width-scaled to the pruned
    // (vid, emb) row; × bands accounts for the posexplode fan-out
    // (Generate's default stats visitor does NOT multiply). Still an
    // estimate either way — so LOG the chosen path, making a degrade
    // observable instead of silent.
    val evalEst = evalBanded.queryExecution.optimizedPlan.stats.sizeInBytes * bands
    val useBroadcast = evalEst <= evalMaxBytes
    log.info(s"dc5 eval side: estimated $evalEst bytes (banded, x$bands) vs " +
      s"max $evalMaxBytes -> ${if (useBroadcast) "BROADCAST" else "shuffle join (degraded)"}")
    val evalSide = if (useBroadcast) broadcast(evalBanded) else evalBanded
    val scored = banded(corp, "cid", "c_emb")
      .join(evalSide, Seq("bi", "bk"))
      .withColumn("cos", fastDot(col("c_emb"), col("e_emb")))
      .groupBy(col("cid")).agg(max(col("cos")).as("mc"))
    corp.select(col("vid"))
      .join(scored, col("vid") === col("cid"), "left")
      .select(col("vid"), round(col("mc"), 4).as("max_cos4"),
        coalesce(col("mc") >= lit(threshold), lit(false)).as("contaminated"))
  }

  /** TOP PRINCIPAL DIRECTION of the (unit-normalized) embedding
    * matrix via power iteration — the anisotropy diagnostic behind
    * "all our embeddings point the same way" (a dominant common
    * direction means cosine scores compress; the standard fix
    * subtracts it). UNCENTERED by design: the dominant singular
    * direction of the normalized matrix IS the common-direction
    * probe (mean-centering would erase exactly the thing measured).
    *
    * Scale shape — the lb1 pair-scan-avoidance posture applied to
    * linear algebra: the D×D Gram G = Σ_rows q·qᵀ is computed in ONE
    * pass (per-row upper-triangle products exploded to (i, j) cells,
    * partial-combined — the exchange carries ≤ D²/2 keys per
    * partition, never rows), with components quantized to integer
    * micro-units so the sums are EXACT in any order at any corpus
    * size (decimal accumulator — a long wraps at warehouse row
    * counts; the gn1 discipline). The power iteration then runs on
    * the DRIVER over the bounded D×D matrix (the kmv/centroid
    * bounded-collect class): per round w = G·v with the j-fold in
    * DIM ORDER, v ← signed-r6(w/‖w‖) — per-round rounding resets
    * cross-engine float drift (the s3 discipline), and the DuckDB
    * oracle unrolls the identical ordered folds. Output: one row per
    * dimension (dim, loading6) + the Rayleigh eigenvalue estimate
    * eigval6 = r6(vᵀGv / 1e12) (unit: cos²-mass × rows). */
  def topPrincipalDirection(
      vecs: DataFrame, iters: Int = 3, dim: Int = 64): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"topPrincipalDirection: iters in [1, 16]: $iters")
    val spark = vecs.sparkSession
    import spark.implicits._
    val v = normalized(vecs, "vid", "emb")
    val quC = (c: Column) => when(c >= 0, floor(c * lit(1e6) + lit(0.5)))
      .otherwise(-floor(-c * lit(1e6) + lit(0.5))).cast("long")
    val q = v.select(transform(col("emb"), quC).as("qa"))
    val cells = q.select(explode(flatten(
        transform(sequence(lit(0), lit(dim - 1)), i =>
          transform(sequence(i, lit(dim - 1)), j =>
            struct(i.as("i"), j.as("j"),
              (element_at(col("qa"), i + lit(1))
                * element_at(col("qa"), j + lit(1))).as("p")))))).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.p").as("p"))
    val gRows = cells.groupBy(col("i"), col("j"))
      .agg(sum(col("p").cast("decimal(38,0)")).as("s"))
      .collect() // bounded: D(D+1)/2 rows
    val g = Array.ofDim[Double](dim, dim)
    gRows.foreach { r =>
      val (i, j, d) = (r.getInt(0), r.getInt(1), r.getDecimal(2).doubleValue)
      g(i)(j) = d; g(j)(i) = d
    }
    def r6s(x: Double): Double =
      if (x >= 0) math.floor(x * 1e6 + 0.5) / 1e6
      else -math.floor(-x * 1e6 + 0.5) / 1e6
    // every fold below runs in ascending index order — the oracle's
    // list(expr ORDER BY idx) → list_sum twin folds identically
    def matVec(x: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += g(i)(j) * x(j); j += 1 }; s
      }
    var vv = Array.fill(dim)(0.125)
    (1 to iters).foreach { _ =>
      val w = matVec(vv)
      var n2 = 0.0; var i = 0
      while (i < dim) { n2 += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(n2)
      require(nrm > 0, "topPrincipalDirection: zero Gram-vector norm " +
        "(degenerate corpus or start vector) - supply a different start")
      vv = w.map(x => r6s(x / nrm))
    }
    val gv = matVec(vv)
    var lam = 0.0; var i = 0
    while (i < dim) { lam += vv(i) * gv(i); i += 1 }
    val eig6 = r6s(lam / 1e12)
    vv.zipWithIndex.map { case (x, d) => (d.toLong, x, eig6) }.toSeq
      .toDF("dim", "loading6", "eigval6")
  }

  /** ALL-BUT-THE-TOP anisotropy correction (Mu & Viswanath 2018 —
    * the standard fix [[topPrincipalDirection]]'s scaladoc names):
    * per normalized vector, its component along the corpus's top
    * direction u and the norm of the residual after removing it —
    * the frame a pipeline materializes to decide whether (and how
    * hard) the common-direction subtraction changes its geometry.
    * A corpus whose `top_comp6` mass concentrates near ±1 is the
    * pathological "all embeddings point the same way" case; healthy
    * corpora center near 0 with `resid_norm6` ≈ 1.
    *
    * Scale shape: u comes from pc1's bounded machinery (one exact
    * Gram pass + driver power iteration over D×D), then rides the
    * plan as ONE literal array (the PQ reference-object posture) —
    * the per-vector pass is a stateless scan projection, no joins,
    * no shuffles. Portability: the dot is the shared graft_dot /
    * list_dot_product IEEE sequence (the dc4 pairing); the residual
    * sum folds in ascending dimension order on both engines
    * (`aggregate(sequence(...))` left fold == `list_sum` over an
    * index-ordered `list_transform`). */
  def removeTopDirection(
      vecs: DataFrame, iters: Int = 3, dim: Int = 64): DataFrame = {
    ensureRegistered(vecs)
    val u: Array[Double] = topPrincipalDirection(vecs, iters, dim)
      .select(col("dim"), col("loading6"))
      .collect().sortBy(_.getLong(0)).map(_.getDouble(1)) // bounded: D rows
    val v = normalized(vecs, "vid", "emb")
    val uLit = typedlit(u.toSeq)
    v.select(col("vid"), col("emb"), fastDot(col("emb"), uLit).as("tc"))
      .select(col("vid"),
        graft.queries.Round6.r6(col("tc")).as("top_comp6"),
        graft.queries.Round6.r6(sqrt(aggregate(
          sequence(lit(1), lit(dim)), lit(0.0d),
          (acc, k) => {
            val d = element_at(col("emb"), k) - col("tc") * element_at(uLit, k)
            acc + d * d
          }))).as("resid_norm6"))
  }

  /** Deterministic ±1 (Rademacher) hyperplane for sign-LSH: component
    * d of plane k is +1 iff the first md5 hex digit of "k:d" is odd.
    * Derived — not sampled — so the DuckDB oracle twin reproduces the
    * identical matrix from the same formula (PipelineQueries x6), and
    * every run of every engine agrees bit-for-bit. Rademacher signs
    * have the same sign-LSH guarantee as Gaussians (Achlioptas 2003:
    * database-friendly random projections). */
  private[graft] def lshPlane(k: Int, dim: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { d =>
      val h = md.digest(s"$k:$d".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 1) 1.0 else -1.0
    }
  }

  /**
   * APPROXIMATE embedding near-dup pairs — the 100 TB path. Random-
   * hyperplane sign-LSH (Charikar 2002) over the unit-normalized
   * corpus: `bands` bands of `bits` sign bits each; two vectors are
   * candidates iff some band matches exactly; candidates are verified
   * with the exact dot product, so every emitted pair truly has
   * cos ≥ threshold — the approximation can only MISS pairs
   * (recall < 1 by design, like [[ivfTopK]]).
   *
   * A pair at angle θ agrees per bit with prob 1 − θ/π, so per band
   * with p = (1 − θ/π)^bits; recall = 1 − (1 − p)^bands. At a
   * realistic near-dup threshold (cos ≥ 0.9, θ ≤ 26°) the defaults
   * (16 bits, 8 bands) give p ≈ 0.083 → recall ≈ 0.50 per pair and
   * a random-pair (θ ≈ 90°) collision rate of 1.2e-4 — candidates
   * ≈ bands·N²·2^{-bits} ≪ N², shuffled on (band, bucket) via
   * [[graft.dedup.Dedup.bucketPairs]] with the blocked hot-bucket
   * variant available. Driver-data calibration (threshold 0.45,
   * θ ≈ 63°): bits=6, bands=16 recalls ~75-80% of true pairs with
   * ~27% of N² as candidates — that threshold is simply not
   * LSH-separable (see [[nearDupPairs]]); the operator is honest
   * about it rather than silently quadratic.
   *
   * Output shape matches [[nearDupPairs]]: (id_a, id_b, cos).
   * `dim` must equal the embedding length (planes are plan-time
   * literals, one [[fastDot]] per bit per row).
   */
  /** Sign-LSH band keys over a normalized (id, emb) frame: one row per
    * doc, `bands` band digests of `bits` sign bits each — the keyed
    * input [[graft.dedup.Dedup.bandCandidates]] expects. Split out of
    * [[lshNearDupPairs]] so the candidate stage can be measured alone
    * (ScaleSmoke records candidate counts ≪ N²).
    *
    * Sign bits are decided at an exact `dot >= 0` boundary, so engine
    * agreement (e.g. the DuckDB oracle twin's list_dot_product)
    * requires the IDENTICAL left-to-right double accumulation
    * graft_dot uses — any re-association could flip a bit on a
    * projection within float noise of 0 and move a vector to a
    * different bucket in one engine only. Unlike the verify threshold
    * (margin-checked in PipelineQueries), this boundary has no
    * engineered margin; the order dependency IS the contract. */
  private[graft] def signBands(v: DataFrame, bits: Int, bands: Int, dim: Int): DataFrame =
    // one-pass native kernel (GraftExpressions.SignBandKeys): the
    // composed per-bit graft_dot form inlined bits×bands literal dots
    // and blew janino's method-size limit at bits=16 (silent
    // interpreted fallback at scale); the kernel is bit-identical
    // (±1.0 multiplication is IEEE-exact — parity-tested in
    // NativeExpressionsSpec) and fails loudly on a wrong-length
    // embedding instead of truncating
    v.select(col("id").as("doc_id"),
      call_function("graft_sign_bands",
        col("emb"), lit(bits), lit(bands), lit(dim)).as("bands"))

  /** The composed-builtin construction SignBandKeys replaces — kept as
    * the parity reference for NativeExpressionsSpec (it is also the
    * shape the DuckDB oracle twin mirrors). Do not use on hot paths.
    * Carries the same loud wrong-length guard as the kernel: graft_dot
    * against a dim-length plane literal would otherwise silently
    * truncate a longer embedding (and zero-extend a shorter one),
    * degrading bucketing instead of failing. */
  private[graft] def signBandsComposed(
      v: DataFrame, bits: Int, bands: Int, dim: Int): DataFrame = {
    val g = v.select(col("id"),
      when(size(col("emb")) === dim, col("emb")).otherwise(raise_error(format_string(
        s"graft_sign_bands: embedding length %s != dim=$dim", size(col("emb"))))).as("emb"))
    val bandCols = array((0 until bands).map { j =>
      (0 until bits).map { i =>
        val plane = typedlit(lshPlane(j * bits + i, dim))
        when(call_function("graft_dot", col("emb"), plane) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    g.select(col("id").as("doc_id"), bandCols.as("bands"))
  }

  /**
   * Gate-time insurance for the sign-bit boundary contract (see
   * [[signBands]]): sign bits are decided at an exact `dot >= 0`
   * boundary with no engineered margin, so engine agreement relies on
   * the identical left-to-right accumulation on both sides. This
   * check PROVES the data stays away from the boundary: it computes
   * every (vector, plane) projection of the sign-LSH construction and
   * requires min |projection| > eps — if that holds, even a one-ulp
   * re-association difference could never flip a bucket bit, so a
   * cross-engine hash mismatch can never originate here. Run it where
   * the oracle twins are built (one extra O(N·bits·bands) pass; gate
   * SF only — this is a conformance assertion, not a production
   * stage). Throws IllegalStateException with the offending margin.
   */
  def assertSignMargin(
      corpus: DataFrame, bits: Int, bands: Int, dim: Int, eps: Double = 1e-9): Unit = {
    ensureRegistered(corpus)
    val v = normalized(corpus, "id", "emb")
    val projections = (0 until bits * bands).map { k =>
      abs(call_function("graft_dot", col("emb"), typedlit(lshPlane(k, dim))))
    }
    val minAbs = v.select(array_min(array(projections: _*)).as("m"))
      .agg(min(col("m"))).head.getDouble(0)
    if (minAbs <= eps) throw new IllegalStateException(
      f"sign-LSH margin $minAbs%.3e <= eps $eps%.1e: a projection sits within float " +
        "noise of the dot >= 0 boundary — engines could disagree on its bucket bit " +
        s"(bits=$bits, bands=$bands, dim=$dim)")
  }

  def lshNearDupPairs(
      corpus: DataFrame,
      threshold: Double,
      bits: Int = 16,
      bands: Int = 8,
      dim: Int = 64,
      hotBucketBlock: Option[Int] = None): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62]: $bits")
    ensureRegistered(corpus)
    val v = graft.dedup.Dedup.materialize(normalized(corpus, "id", "emb"))
    val cands = graft.dedup.Dedup.bandCandidates(signBands(v, bits, bands, dim), hotBucketBlock)
    verifyPairs(v, cands, threshold)
  }

  /**
   * Symmetric int8 absmax quantization statistics per embedding
   * (the per-vector scale scheme of Dettmers et al. 2022, LLM.int8):
   * scale = absmax/127, q_i = ⌊x_i·127/absmax + 0.5⌋ — the tie rule
   * is written out as floor(v + 0.5) so both engines round identically
   * (library round() half-even vs half-away would diverge on exact
   * .5 quotients). Emits per-vector audit stats a quantized-index
   * build wants: the scale, the exact integer sum/min/max of the
   * quantized codes, and the max absolute reconstruction error.
   *
   * Every output is either exact integer arithmetic or an
   * order-INDEPENDENT double reduction (max) over per-element values
   * computed by an identical IEEE op sequence — no ordered double
   * accumulation anywhere, so the DuckDB twin is bit-exact. Per-row
   * stateless map, no shuffle: the 100 TB posture is trivially
   * perfect (quantize rides the scan).
   */
  def quantizeInt8Stats(
      corpus: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val embD = transform(col(embCol), x => x.cast("double"))
    corpus
      .select(col(idCol).as("vec_id"), embD.as("xs"),
        array_max(transform(col(embCol), x => abs(x.cast("double")))).as("am"))
      .withColumn("qs",
        when(col("am") === 0.0, transform(col("xs"), _ => lit(0L)))
          .otherwise(transform(col("xs"),
            x => floor(x * lit(127.0) / col("am") + lit(0.5)).cast("long"))))
      .select(
        col("vec_id"),
        round(col("am") / lit(127.0), 6).as("scale6"),
        aggregate(col("qs"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("qs")).as("q_min"),
        array_max(col("qs")).as("q_max"),
        round(
          when(col("am") === 0.0, lit(0.0)).otherwise(array_max(zip_with(col("xs"), col("qs"),
            (x, q) => abs(x - q.cast("double") * col("am") / lit(127.0))))),
          6).as("max_err6"))
  }

  /** Exact-dot verification of candidate (doc_a, doc_b) pairs against
    * the normalized frame — shared by the banded and multi-probe
    * sign-LSH paths. */
  private def verifyPairs(v: DataFrame, cands: DataFrame, threshold: Double): DataFrame = {
    val va = v.select(col("id").as("id_a"), col("emb").as("emb_a"))
    val vb = v.select(col("id").as("id_b"), col("emb").as("emb_b"))
    cands.select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      .withColumn("cos", fastDot(col("emb_a"), col("emb_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /**
   * MULTI-PROBE sign-LSH near-dup pairs (Lv et al., VLDB'07 applied
   * to Charikar sign bands): candidates are pairs whose keys agree
   * within hamming ≤ 1 in SOME band — each row joins under its base
   * key and under the `bits` single-bit-flipped probe keys, so a pair
   * one flipped bit away from sharing a bucket is still found.
   *
   * The recall lever at fixed index width: per band,
   * P(hamming ≤ 1) = q^b + b·q^(b-1)(1−q) with q = 1 − θ/π. At
   * cos ≥ 0.9 (θ ≤ 26°) and bits=16/bands=8 that lifts per-pair
   * recall ≈ 0.50 → ≈ 0.95, while the random-pair candidate rate
   * grows only (1+bits)× (17·bands·N²·2^{-bits} — still ≪ N²).
   * Probing trades one extra (1+bits)-way key explode and a wider
   * (band, key) shuffle for band count: fewer bands at higher recall.
   *
   * Exactness unchanged: every candidate is verified with the exact
   * dot product, so emitted pairs always satisfy the threshold;
   * probing can only ADD recall over [[lshNearDupPairs]] (superset,
   * property-tested).
   *
   * Hot-bucket note: candidates come from an equi-join on
   * (band, key) rather than the collect_list bucket walk, so a
   * degenerate key (all-zero embeddings) fans out as join rows, not
   * one giant array — AQE's skew-join split applies; for planted
   * boilerplate cohorts run exact dedup first (same advice as x2).
   *
   * `probeRadius` widens the probe ring: radius 1 emits the `bits`
   * single-bit flips (Lv et al.'s step-1 perturbation set), radius 2
   * adds the C(bits, 2) two-bit flips, so a pair is a candidate iff
   * some band agrees within hamming ≤ probeRadius. Per band that
   * lifts P(candidate) from Σ_{k≤1} C(b,k) q^(b−k)(1−q)^k to the
   * k ≤ 2 partial sum — at cos ≥ 0.9, bits=16/bands=8: per-pair
   * recall ≈ 0.95 → ≈ 0.995 — while the probe-key explode grows from
   * (1 + bits)× to (1 + bits + bits·(bits−1)/2)× (17× → 137× at
   * bits=16: radius 2 buys the last half-nine with ~8× the shuffle
   * volume of radius 1 — the knob exists so that trade is explicit,
   * per query, instead of forcing more bands on every query).
   * Spend the radius to CUT bands (index width), not stacked on top:
   * bands=4/radius=2 probes ~110M keys at 200k vectors where
   * bands=8/radius=2 probes 219M and its candidate join spills
   * multiples of that (measured in ScaleSmoke — the stacked form
   * exhausted a 75 GB spill volume that the halved-bands form
   * handles comfortably).
   * Asymmetry keeps the radius exact: only the RIGHT side carries
   * flipped keys, so doc_b's key perturbed by k ≤ radius bits meets
   * doc_a's base key iff hamming(a, b) = k — flip×flip never joins,
   * so hamming 2·radius stays out.
   */
  /** Auto-salt threshold (base band-key rows = N·bands): below it the
    * candidate join runs unsalted. Both regimes are measured: at 200k
    * vectors × 4 bands (800k base keys, ~3.3e8 candidate rows) S=8
    * wins 7–12 % wall and bounds degenerate hot keys; at gate scale
    * (5k × 16 bands = 80k base keys) the S× left replication is pure
    * fixed cost on a join whose total volume fits a handful of tasks
    * anyway (x9 sf0.1 doubled 1.58→3.10 s under unconditional S=8 —
    * VERDICT r7 #2). The crossover sits between those points; 400k
    * splits it with ~5× margin to each measurement. */
  private val SaltAutoThreshold = 400000L

  def lshNearDupPairsMultiProbe(
      corpus: DataFrame,
      threshold: Double,
      bits: Int = 16,
      bands: Int = 8,
      dim: Int = 64,
      probeRadius: Int = 1,
      saltBuckets: Int = 0): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62]: $bits")
    require(probeRadius >= 1 && probeRadius <= 2,
      s"probeRadius must be 1 or 2: $probeRadius")
    require(saltBuckets >= 0, s"saltBuckets must be >= 0 (0 = size-aware auto): $saltBuckets")
    ensureRegistered(corpus)
    val v = graft.dedup.Dedup.materialize(normalized(corpus, "id", "emb"))
    val keyed = graft.dedup.Dedup.materialize(
      signBands(v, bits, bands, dim)
        .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "key"))))
    // size-aware salt: counting the materialized key frame is one
    // cheap checkpoint scan; S=1 below the threshold, S=8 above
    val salt =
      if (saltBuckets > 0) saltBuckets
      else if (keyed.count() < SaltAutoThreshold) 1
      else 8
    val base = keyed.select(col("doc_id"), col("band_idx"), col("key").as("probe"))
    val masks: Seq[Long] =
      (0 until bits).map(i => 1L << i) ++
        (if (probeRadius >= 2)
           for (i <- 0 until bits; j <- i + 1 until bits) yield (1L << i) | (1L << j)
         else Seq.empty)
    val flips = keyed.select(col("doc_id"), col("band_idx"),
      explode(array(masks.map(m => col("key").bitwiseXOR(lit(m))): _*)).as("probe"))
    // base keys join base ∪ probe keys of other docs: hamming-0 pairs
    // meet base×base, hamming-k (k ≤ radius) pairs meet base×probe
    // (twice, in both orientations — the < filter + distinct collapse
    // them); probe×probe never joins a base, so hamming > radius
    // stays out.
    //
    // The join is SALTED against hot-key compute skew: a dense probe
    // key with na left × nb right rows used to emit its na·nb pairs in
    // ONE task — join-KEY output skew AQE's byte-based split cannot
    // see (measured at 200k vectors / radius 2: longest task 194 s of
    // a 353 s wall). Each right row carries salt = hash(doc_b) mod S;
    // the left side replicates across all S salts, so every pair still
    // meets exactly once but a hot key's work lands in S independent
    // tasks (max task ÷ S for S× more left shuffle rows — cheap next
    // to the (1+bits+C(bits,2))× right-side explode radius 2 already
    // pays).
    val right = base.select(col("doc_id").as("doc_b"), col("band_idx"), col("probe"))
      .unionByName(flips.select(col("doc_id").as("doc_b"), col("band_idx"), col("probe")))
      .withColumn("salt", pmod(xxhash64(col("doc_b")), lit(salt.toLong)))
    val left = base.select(col("doc_id").as("doc_a"), col("band_idx"), col("probe"))
      .withColumn("salt",
        explode(array((0 until salt).map(i => lit(i.toLong)): _*)))
    val cands = left.join(right, Seq("band_idx", "probe", "salt"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    verifyPairs(v, cands, threshold)
  }

  /**
   * QUERY-ADAPTIVE multi-probe sign-LSH (Lv et al. VLDB'07, the
   * query-directed perturbation sequence): instead of probing ALL
   * `bits` single-bit flips per band ([[lshNearDupPairsMultiProbe]]),
   * probe only the `probes` MOST-MARGINAL bits — the ones whose
   * projection landed nearest the hyperplane, which are overwhelmingly
   * the bits a true near-neighbor differs in. Recovers most of
   * radius-1's recall at `probes`/`bits` of its key fan-out: the
   * explode is (1 + probes)× instead of (1 + bits)× (at bits=16,
   * probes=2: 3× vs 17× — a 5.7× smaller candidate shuffle for the
   * same index width).
   *
   * Candidate semantics: a pair is a candidate iff some band has
   * hamming(key_a, key_b) = 0, or = 1 with the differing bit among
   * EITHER row's probe set. Probe sets are asymmetric (each row ranks
   * its own margins), so a one-sided match may surface in only one
   * join orientation — pairs are normalized via least/greatest rather
   * than filtered by `doc_a < doc_b`, which would silently drop the
   * orientation the probing found. `probes = bits` degenerates to
   * exactly radius-1 multi-probe (property-tested). Probe selection
   * is a total order on (|projection|, bit index), so the key set —
   * and the DuckDB twin that mirrors it — is engine-portable under
   * the same left-to-right accumulation contract as [[signBands]].
   * Emitted pairs are exact-verified as always.
   */
  def lshNearDupPairsAdaptive(
      corpus: DataFrame,
      threshold: Double,
      bits: Int = 16,
      bands: Int = 8,
      dim: Int = 64,
      probes: Int = 2): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62]: $bits")
    require(probes >= 1 && probes <= bits, s"probes must be in [1, bits]: $probes")
    ensureRegistered(corpus)
    val v = graft.dedup.Dedup.materialize(normalized(corpus, "id", "emb"))
    val stride = 1 + probes
    val keyed = graft.dedup.Dedup.materialize(
      v.select(col("id").as("doc_id"),
        call_function("graft_sign_bands_adaptive",
          col("emb"), lit(bits), lit(bands), lit(dim), lit(probes)).as("keys"))
        .select(col("doc_id"), posexplode(col("keys")).as(Seq("idx", "probe")))
        .withColumn("band_idx", floor(col("idx") / stride).cast("long"))
        .withColumn("is_base", col("idx") % stride === 0))
    val base = keyed.where(col("is_base"))
      .select(col("doc_id"), col("band_idx"), col("probe"))
    val withProbes = keyed.select(col("doc_id"), col("band_idx"), col("probe"))
    val cands = base.select(col("doc_id").as("doc_a"), col("band_idx"), col("probe"))
      .join(withProbes.select(col("doc_id").as("doc_b"), col("band_idx"), col("probe")),
        Seq("band_idx", "probe"))
      .where(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
    verifyPairs(v, cands, threshold)
  }

  /**
   * Product quantization encode + asymmetric-distance scoring (Jégou
   * et al. 2011, "Product Quantization for Nearest Neighbor Search"):
   * each `m·dsub`-dim vector splits into `m` subvectors; each
   * subvector is assigned the code of its nearest codebook entry
   * (squared L2 rounded to 6 decimals, ties to the LOWEST code), and
   * the vector's distance to the query is the ADC sum — the query's
   * per-(subspace, code) distance table is computed once and the
   * per-vector score is `m` table lookups, never a full-dimension
   * float op. Returns one row per corpus vector:
   * (vec_id, code0..code{m-1}, adc6). Codes are 0-based positions in
   * the vec_id-sorted seed list, per subspace. Codebook TRAINING is
   * [[kmeansCentroids]]'s job (per-subspace slices); this operator
   * takes the trained/seed codebook as data.
   *
   * Scale posture: the codebook (m·k subvectors) and the query's
   * distance table are collected driver-side — O(m·k), the same
   * bounded-state argument as [[kmeansCentroids]]'s centroids — and
   * carried into the plan as ONE REFERENCE OBJECT each inside the
   * native [[graft.functions.PqEncode]] / [[graft.functions.PqAdc]]
   * expressions (`addReferenceObj`, the broadcast-variable analogue
   * for expression state). Encoding is then a PURE PER-ROW PROJECTION
   * over the scan: zero joins, zero explodes, and no exchange beyond
   * the conditional under-partitioned-input spread (a well-partitioned
   * corpus keeps its layout). Plan size and generated-method size are
   * O(1) in m·k — the earlier literal-chain formulation (m·k·dsub
   * add/multiply terms baked into one generated method) cost seconds
   * of fixed Janino compile latency at the demo size and would trip
   * Janino's 64KB method limit at production PQ sizes (m=64, k=256 —
   * now smoked green under `spark.sql.codegen.fallback=false`).
   * Argmin keeps the first-match = lowest-code tie rule; ADC indexes
   * the reference table by the chosen code. A top-k over ADC composes
   * as sort+limit (TakeOrderedAndProject) downstream.
   *
   * Float discipline: subspace distances fold left-to-right over the
   * dsub positions in index order on BOTH engines; the query table is
   * computed driver-side with the IDENTICAL op sequence and
   * `BigDecimal.HALF_UP` rounding (the same Java API Spark's `round`
   * calls), so corpus-side and query-side distances share one
   * convention; argmin and ADC read only ROUNDED values.
   */
  /** Driver-collect of a `(vec_id, embedding)` frame in vec_id order;
    * every vector must have `dim` components (-1: as many as the
    * first), so a NULL or ragged one fails by name — the bounded
    * codebook/query state of the PQ family and the IVF centroids. */
  private def collectVecsOf(
      df: DataFrame, dim: Int, what: String): Array[(Long, Array[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val size = (e: Array[Double]) => if (e == null) -1 else e.length // -1 = null
    val d = if (dim >= 0) dim else rows.headOption.fold(0)(r => size(r._2))
    rows.foreach { case (id, e) => require(e != null && e.length == d,
      s"$what: vec $id has ${size(e)} dims, expected $d (-1 = null embedding)") }
    rows
  }

  /** The query's subspace-major ADC distance table `qdFlat(j·k + c)`,
    * entries rounded with the same left-to-right fold the column
    * expression uses — shared by [[pqEncodeAdc]] and the residual
    * form's per-cell tables. */
  private def pqQueryTable(
      qRaw: Array[Double], cb: Array[(Long, Array[Double])],
      m: Int, dsub: Int): Array[Double] = {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    Array.tabulate(m) { j =>
      cb.map { case (_, c) =>
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val d = qRaw(j * dsub + i) - c(j * dsub + i)
          acc += d * d
          i += 1
        }
        round6(acc)
      }
    }.flatten
  }

  def pqEncodeAdc(
      corpus: DataFrame, seeds: DataFrame, query: DataFrame,
      m: Int = 4, dsub: Int = 16): DataFrame = {
    val dim = m * dsub
    val cb = collectVecsOf(seeds, dim, "pq codebook")     // code order = vec_id order
    require(cb.nonEmpty, "pq: empty codebook")
    val q = collectVecsOf(query, dim, "pq query")
    require(q.length == 1, s"pq: query must be exactly one vector, got ${q.length}")
    ensureRegistered(corpus)
    val k = cb.length
    // code-major flattening: cbFlat(c*dim + d) = component d of entry c
    val cbFlat: Array[Double] = cb.flatMap(_._2)
    // subspace-major ADC table: qdFlat(j*k + c), entries pre-rounded
    val qdFlat: Array[Double] = pqQueryTable(q(0)._2, cb, m, dsub)
    val emb = col("embedding").cast("array<double>")
    val guard = when(size(emb) === dim, col("vec_id"))
      .otherwise(raise_error(concat(
        lit(s"pq corpus: expected $dim dims, got "), size(emb).cast("string"))))
    // conditional spread: only repartitions when the scan arrives
    // under-partitioned (local small files) — a well-partitioned
    // corpus keeps its layout and the plan stays exchange-free.
    // PqEncode runs once per row (its own projection — CollapseProject
    // won't duplicate a non-cheap expression); the m code columns and
    // the ADC lookup then read the codes array.
    val coded = graft.dedup.Dedup.parallelize(corpus)
      .select(guard.as("vec_id"),
        call_function("graft_pq_encode",
          emb, typedlit(cbFlat), lit(m), lit(dsub)).as("codes"))
    val codeCols = (0 until m).map(j =>
      element_at(col("codes"), j + 1).as(s"code$j"))
    coded.select(col("vec_id") +: codeCols :+
      call_function("graft_pq_adc",
        col("codes"), typedlit(qdFlat), lit(k)).as("adc6"): _*)
  }

  /**
   * PQ retrieval: the `topK` nearest corpus vectors to `query` by
   * ASYMMETRIC distance over [[pqEncodeAdc]]'s codes (smallest adc6
   * first, ties to the lowest vec_id). The encode is the zero-exchange
   * projection; the top-k is sort+limit — Catalyst plans
   * TakeOrderedAndProject (per-partition heaps of k, never a global
   * sort) — and the only single-partition step ranks the k survivors
   * (the bm1 tail). This is the FAISS IVFADC probe shape minus the
   * cell routing: compose with [[ivfTopK]]'s assignment when the
   * corpus is cell-partitioned.
   */
  def pqTopK(
      corpus: DataFrame, seeds: DataFrame, query: DataFrame,
      topK: Int = 20, m: Int = 4, dsub: Int = 16): DataFrame = {
    // barrier: production stores the codes once and searches them many
    // times — materializing here reproduces that shape (encode once,
    // search many; the sort/window stages read stored codes instead of
    // re-running the encode kernel per stage)
    val scored = graft.Materialize.barrier(pqEncodeAdc(corpus, seeds, query, m, dsub))
    scored.orderBy(col("adc6").asc, col("vec_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("adc6").asc, col("vec_id"))))
  }

  /**
   * IVFADC retrieval (Jégou et al. 2011, §V — the full FAISS probe
   * shape): [[ivfTopK]]'s coarse cell routing composed with
   * [[pqTopK]]'s asymmetric-distance scoring. The corpus is assigned
   * to cells by nearest `centroids` (cosine argmax over normalized
   * vectors — the same `graft_nearest_cid` projection as s2/sd1); the
   * query probes its `nProbe` nearest cells; ONLY vectors in probed
   * cells are ADC-scored — the whole-corpus scan s4 performs becomes a
   * cell-pruned scan of ~nProbe/k of the corpus. Same output shape as
   * [[pqTopK]] (vec_id, code0.., adc6, rank); recall < 1 by design
   * (a true neighbor in an unprobed cell is never scored).
   *
   * Scale posture: centroids and the single-query probe set are O(k)
   * driver state; assignment is a per-row projection over one corpus
   * scan ([[ivfCellAssignment]], no exchange); the
   * prune is a broadcast semi join on vec_id (no corpus shuffle); the
   * surviving fraction flows through [[pqEncodeAdc]]'s zero-exchange
   * projection and a TakeOrderedAndProject top-k. At 100 TB the
   * pruned fraction is the knob: nProbe/k of the corpus is scored,
   * everything else is never read past the assignment pass — and a
   * production deployment would PERSIST the assignment (it is
   * query-independent), making the per-query cost just the pruned ADC
   * scan.
   */
  def ivfAdcTopK(
      corpus: DataFrame, seeds: DataFrame, query: DataFrame,
      centroids: DataFrame, topK: Int = 20, m: Int = 4, dsub: Int = 16,
      nProbe: Int = 3, assignment: Option[DataFrame] = None): DataFrame =
    pqTopK(ivfAdcPruned(corpus, query, centroids, nProbe, assignment),
      seeds, query, topK, m, dsub)

  /** The query-INDEPENDENT corpus→cell assignment both IVFADC forms
    * route through: (vec_id, cid) where cid is the vector's nearest
    * coarse centroid by normalized cosine — the `graft_nearest_cid`
    * projection over one corpus scan, no exchange; a NULL embedding
    * lands in the lowest cid. Production PERSISTS this frame (and partitions the
    * corpus by it) — it changes only when the corpus or the centroids
    * do — and passes it back via the `assignment` parameter of
    * [[ivfAdcTopK]] / [[ivfAdcResidualTopK]], making the per-query
    * cost just the probe + pruned scan. The gate keys do exactly
    * that through a parquet-materialized fixture (the production
    * shape, not a shortcut: the DuckDB oracles still recompute the
    * assignment from scratch, so its VALUES stay fully checked). */
  def ivfCellAssignment(corpus: DataFrame, centroids: DataFrame): DataFrame =
    ivfCellAssignment(corpus, centroidsOf(centroids))

  private def ivfCellAssignment(corpus: DataFrame, cent: Centroids): DataFrame =
    normalized(corpus, "vec_id", "n_emb")
      .select(col("vec_id"), cent.nearest(col("n_emb")).as("cid"))

  /** The query's `nProbe` nearest coarse cells as driver values —
    * the O(nProbe) probe list every IVF form routes through (FAISS's
    * probe-list shape). One crossJoin of the query row(s) against the
    * O(k) driver-held centroids + a per-query rank window; for a
    * multi-row query the UNION of all queries' probe cells is
    * returned (each query still ranks its own candidates downstream).
    * Driver state is ≤ nProbe·Q longs — bounded like the kmeans
    * centroids. */
  def probeCells(query: DataFrame, centroids: DataFrame, nProbe: Int): Seq[Long] =
    probeCells(query, centroidsOf(centroids), nProbe)

  private def probeCells(query: DataFrame, cent: Centroids, nProbe: Int): Seq[Long] = {
    val spark = query.sparkSession
    import spark.implicits._
    topCells(normalized(query, "query_id", "q_emb", spread = false), cent, nProbe)
      .select(col("cid")).distinct()
      .as[Long].collect().toSeq.sorted
  }

  /** Persist the corpus in the IVF PHYSICAL LAYOUT the [[ivfTopK]]
    * scaladoc promises: one parquet directory per coarse cell
    * (`partitionBy("cid")` over the [[ivfCellAssignment]] join), so a
    * probe's cell list becomes a PartitionFilter and the scan lists —
    * and reads — ONLY the probed cells' files; unprobed cells are
    * never opened. This is the 100 TB production path: the layout is
    * query-independent (rewritten only when the corpus or centroids
    * change), and the per-query cost is the pruned scan alone — no
    * assignment join, no corpus shuffle at probe time. The one
    * corpus-wide shuffle this write pays (partitionBy redistributes
    * rows by cid) is the amortized indexing cost, not a per-query
    * one. */
  def writeCorpusByCell(corpus: DataFrame, assignment: DataFrame, path: String): Unit =
    corpus.join(assignment, Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** IVFADC probe over a [[writeCorpusByCell]] layout: the probe's
    * `nProbe` cells are pushed as a partition filter (`cid IN (...)`
    * over the directory key — `.explain` shows it under
    * PartitionFilters with the unprobed directories never listed),
    * then the surviving slice flows through [[pqTopK]]'s zero-exchange
    * ADC projection. Functionally [[ivfAdcTopK]] with the broadcast
    * semi join replaced by partition pruning — the form that scales
    * past broadcastable id sets. Single-query (pqTopK's global
    * top-k contract). */
  def ivfAdcTopKPartitioned(
      spark: SparkSession, cellPath: String, seeds: DataFrame, query: DataFrame,
      centroids: DataFrame, topK: Int = 20, m: Int = 4, dsub: Int = 16,
      nProbe: Int = 3): DataFrame = {
    val cids = probeCells(query, centroids, nProbe)
    val pruned = spark.read.parquet(cellPath)
      .where(col("cid").isin(cids: _*))
      .select(col("vec_id"), col("embedding"))
    pqTopK(pruned, seeds, query, topK, m, dsub)
  }

  /** The cell-pruning stage of [[ivfAdcTopK]], exposed so its plan is
    * independently inspectable (the top-k's storage barrier hides it
    * from the final executedPlan): corpus restricted to the vectors
    * whose nearest centroid is one of the query's `nProbe` nearest
    * cells. */
  private[graft] def ivfAdcPruned(
      corpus: DataFrame, query: DataFrame, centroids: DataFrame,
      nProbe: Int, assignment: Option[DataFrame] = None): DataFrame = {
    ensureRegistered(corpus)
    val cent = centroidsOf(centroids)
    // query-independent corpus→cell assignment — persisted in
    // production and passed in ([[ivfCellAssignment]]); recomputed
    // only when the caller has no stored copy
    val assigned = assignment
      .getOrElse(ivfCellAssignment(corpus, cent))
      .select(col("vec_id").as("nid"), col("cid"))

    // the query's nProbe nearest cells — one row in the gate key, so
    // the rank window is over ≤ k rows
    val probes = topCells(normalized(query, "query_id", "q_emb", spread = false), cent, nProbe)
      .select(col("cid"))

    val prunedIds = assigned.join(broadcast(probes), Seq("cid"))
      .select(col("nid").as("vec_id"))
    // broadcast the id set so the CORPUS side never shuffles — pruned
    // ids are (nProbe/k)·N bigints (the IVF knob keeps that fraction
    // small; at 10^10 vectors with k=10^5 cells and nProbe=10 it is
    // ~10^6 ids). Past broadcast size, the production posture is to
    // PERSIST the assignment bucketed by cid and partition-prune the
    // probe read instead of joining at all (see scaladoc).
    corpus.join(broadcast(prunedIds), Seq("vec_id"), "left_semi")
  }

  /**
   * BINARY (1-bit) quantization retrieval: each embedding compresses
   * to its per-dimension SIGN BITS — 64 dims → 8 bytes, a 32×
   * compression over float32 — and search is Hamming distance over
   * the packed signature (two `bit_count(xor)` ops per candidate; the
   * cheapest similarity screen there is, the standard first stage of
   * a binary→float rerank cascade). Signatures pack as TWO 32-bit
   * words (dims 0–31 / 32–63) per the repo's keep-everything-under-
   * 2^63 discipline — a single 64-bit pack would set the sign bit.
   * Integer end-to-end, so the gate compare is hash-exact. Returns
   * the `topK` nearest to `query` by (hamming ASC, vec_id), query
   * rows included (self at hamming 0).
   */
  def binaryHammingTopK(
      corpus: DataFrame, query: DataFrame, topK: Int = 20, dim: Int = 64): DataFrame = {
    require(dim >= 1 && dim <= 64, s"binary quant: dim must be in [1, 64]: $dim")
    val emb = col("embedding").cast("array<double>")
    def packWord(lo: Int, hi: Int): Column = {
      val bits = (lo until math.min(hi, dim)).map { d =>
        when(element_at(emb, d + 1) >= 0, lit(1L << (d - lo))).otherwise(lit(0L))
      }
      // dim <= lo leaves the word empty (e.g. the hi word at dim <= 32)
      // — a constant 0, not an empty reduce
      if (bits.isEmpty) lit(0L) else bits.reduceLeft(_ + _)
    }
    def signed(df: DataFrame, idOut: String) = df.select(
      col("vec_id").as(idOut),
      packWord(0, 32).as(s"${idOut}_lo"), packWord(32, 64).as(s"${idOut}_hi"))
    val q = broadcast(signed(query, "query_id"))
    // barrier: the packed signature is 2×32-term CASE chains per
    // word — inlined into the crossJoin's output projection it
    // re-evaluates once per (row × query) PAIR (measured at Q=64 ×
    // 200k rows: 36 s screen, ~85 µs/row); checkpointed, the pack
    // runs once per corpus row and the screen is the two bit_counts
    // it claims to be. 8 B/vector — the checkpoint IS the binary
    // index production stores anyway.
    val c = graft.dedup.Dedup.materialize(
      signed(graft.dedup.Dedup.parallelize(corpus), "vec_id"))
    val ham = (bit_count(col("vec_id_lo").bitwiseXOR(col("query_id_lo"))) +
      bit_count(col("vec_id_hi").bitwiseXOR(col("query_id_hi")))).cast("int")
    // per-QUERY ranking (not a global sort+limit): one corpus scan
    // serves every query row — Q queries broadcast, the screen scores
    // Q·N integer pairs, and WindowGroupLimit keeps topK per query
    // before the query-keyed exchange. With one query this reduces to
    // the former global TakeOrderedAndProject semantics exactly.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("vec_id"))
    c.crossJoin(q)
      .withColumn("hamming", ham)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"), col("hamming"), col("rank"))
  }

  /**
   * Binary→float RERANK CASCADE — [[binaryHammingTopK]] composed with
   * the exact cosine scorer, i.e. the production two-stage retrieval
   * shape the e3 scaladoc promises: stage 1 screens the WHOLE corpus
   * with the 32×-compressed sign-bit index (two `bit_count(xor)` ops
   * per row, zero-exchange projection + TakeOrderedAndProject keeping
   * `candidates` ids); stage 2 runs the expensive float math —
   * normalized cosine via the codegen'd `graft_dot` kernel — on ONLY
   * those survivors, rescoped by a broadcast semi-style hash join
   * (`candidates` rows broadcast; the corpus never shuffles), then
   * ranks the float scores for the final `topK`.
   *
   * At 100 TB the knob is `candidates`/N: the float pass touches that
   * fraction of the corpus and nothing else, and the binary pass
   * reads 8 bytes per vector instead of 256. The query row itself is
   * excluded from the reranked output (stage 1 retains it at Hamming
   * 0, so one slot of the candidate budget goes to self — exactly
   * what a hand-composed cascade does; documented rather than
   * special-cased). The rank window runs over ≤ `candidates`
   * post-prune rows — the bm1/s4 harmless-tail argument.
   *
   * Output: (query_id, vec_id, hamming, cos4, rank) — stage-1
   * evidence (hamming) rides along so recall diagnostics don't need a
   * second pass.
   */
  def binaryRerankTopK(
      corpus: DataFrame, query: DataFrame, candidates: Int = 100,
      topK: Int = 10, dim: Int = 64): DataFrame = {
    require(candidates >= topK,
      s"rerank cascade: candidates ($candidates) must be >= topK ($topK)")
    // multi-query capable: stage 1 already ranks per query, so the
    // candidate frame carries (query_id, vec_id) pairs and stage 2
    // joins the query embedding by query_id (for one query this is
    // the former crossJoin exactly). Both broadcast sides stay
    // O(Q·candidates) / O(Q) — the corpus never shuffles.
    val cand = binaryHammingTopK(corpus, query, topK = candidates, dim = dim)
      .select(col("query_id"), col("vec_id"), col("hamming"))
    val qn = broadcast(normalized(query, "query_id", "q_emb", spread = false))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    normalized(corpus, "vec_id", "c_emb")
      .join(broadcast(cand), Seq("vec_id"))
      .join(qn, Seq("query_id"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cos", fastDot(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"), col("hamming"),
        round(col("cos"), 4).as("cos4"), col("rank"))
  }

  /**
   * MATRYOSHKA (prefix-dimension) rerank cascade — the MRL retrieval
   * pattern (Kusupati et al. 2022): embeddings trained so their first
   * `prefixDim` dimensions are themselves a usable low-dim embedding
   * let the screen stage read 1/4 of the vector (here 16 of 64 dims)
   * and the full vector score only the survivors. Structurally e4's
   * cascade ([[binaryRerankTopK]]) with the integer Hamming screen
   * replaced by a low-dim FLOAT screen — higher screen fidelity at 4×
   * the screen bytes of binary, the middle rung of the
   * binary → prefix → full ladder. Stage 1: cosine over the
   * prefix-normalized slice (zero-exchange projection +
   * TakeOrderedAndProject keeping `candidates`); stage 2: full-dim
   * cosine on the broadcast-joined survivors, rank to `topK`.
   *
   * Both stages are the same IEEE op sequence on both engines (slice,
   * normalize, `graft_dot`), so the DuckDB twin is exact; stage-1
   * scores ride along (pcos4) for recall diagnostics. Query excluded
   * from the reranked output, as in e4.
   */
  def matryoshkaRerankTopK(
      corpus: DataFrame, query: DataFrame, prefixDim: Int = 16,
      candidates: Int = 100, topK: Int = 10): DataFrame = {
    require(candidates >= topK,
      s"matryoshka cascade: candidates ($candidates) must be >= topK ($topK)")
    require(prefixDim >= 1, s"matryoshka cascade: prefixDim must be >= 1: $prefixDim")
    ensureRegistered(corpus)
    def prefixNorm(df: DataFrame, idOut: String, embOut: String,
        spread: Boolean): DataFrame = {
      val base = if (spread) graft.dedup.Dedup.parallelize(df) else df
      val sliced = slice(col("embedding").cast("array<double>"), 1, prefixDim)
      base.select(col("vec_id").as(idOut),
        transform(sliced,
          x => x / sqrt(call_function("graft_dot", sliced, sliced))).as(embOut))
    }
    // multi-query capable like [[binaryRerankTopK]]: stage 1 ranks
    // per query (one prefix scan serves Q queries), stage 2 joins the
    // full-dim query embedding by query_id.
    val qPre = broadcast(prefixNorm(query, "query_id", "qp_emb", spread = false))
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("vec_id"))
    // barrier: the prefix slice+normalize is an interpreted HOF chain
    // — un-checkpointed it collapses into the crossJoin projection
    // and re-evaluates per (row × query) pair (the binary screen
    // finding); the checkpoint IS the prefix index production stores
    val cand = graft.dedup.Dedup.materialize(
        prefixNorm(corpus, "vec_id", "cp_emb", spread = true))
      .crossJoin(qPre)
      .withColumn("pcos", fastDot(col("qp_emb"), col("cp_emb")))
      .withColumn("r1", row_number().over(wPre))
      .where(col("r1") <= candidates)
      .select(col("query_id"), col("vec_id"), round(col("pcos"), 4).as("pcos4"))
    val qn = broadcast(normalized(query, "query_id", "q_emb", spread = false))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    normalized(corpus, "vec_id", "c_emb")
      .join(broadcast(cand), Seq("vec_id"))
      .join(qn, Seq("query_id"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cos", fastDot(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"), col("pcos4"),
        round(col("cos"), 4).as("cos4"), col("rank"))
  }

  /**
   * RESIDUAL IVFADC (Jégou et al. 2011, §V-A — the encoding FAISS's
   * IndexIVFPQ actually ships): each vector is PQ-encoded as the
   * residual `x − c(cell(x))` against its coarse centroid rather than
   * raw, and the query builds a SEPARATE ADC table per probed cell
   * from `q − c(cell)` — residuals concentrate around the origin, so
   * the same codebook budget quantizes them far more finely than raw
   * vectors. [[ivfAdcTopK]] is the cell-routing-only composition
   * (raw-vector codes, one global ADC table); this operator adds the
   * residual fidelity. `seeds` selects which CORPUS vectors' residuals
   * form the codebook (codes are 0-based positions in the
   * vec_id-sorted seed list, as everywhere in the PQ family).
   *
   * Scale posture: cell assignment is the one corpus-wide pass
   * ([[ivfCellAssignment]], a per-row projection) and is
   * query-independent — production persists it (and the residuals,
   * which are also query-independent) bucketed by cid. Driver state
   * is O(k·dim) raw centroids + O(nProbe) probed cells + one query
   * vector — the kmeans bounded-state argument; per probed cell the
   * scoring is [[pqEncodeAdc]]'s zero-exchange projection over that
   * cell's slice with the cell's own ADC table, and the final top-k
   * is sort+limit over the union of ≤nProbe cell slices
   * (TakeOrderedAndProject). Residual subtraction is the codegen'd
   * `graft_vec_sub` kernel, not an interpreted zip_with.
   *
   * Float discipline: residuals are single IEEE subtractions — the
   * identical op on both engines — and everything downstream is the
   * [[pqEncodeAdc]] rounded-fold contract, so the DuckDB twin is
   * exact. The probe/assignment ranking runs on normalized vectors
   * (the s2/s5 proven-portable cosine argmax, `graft_nearest_cid` for
   * the assignment).
   */
  def ivfAdcResidualTopK(
      corpus: DataFrame, seeds: DataFrame, query: DataFrame,
      centroids: DataFrame, topK: Int = 20, m: Int = 4, dsub: Int = 16,
      nProbe: Int = 3, assignment: Option[DataFrame] = None): DataFrame = {
    ensureRegistered(corpus)
    val dim = m * dsub
    // bounded driver state: raw centroids (O(k·dim), collected once —
    // the assignment and the probe use their normalized form), the
    // query row, and the nProbe probed cells — collected because the
    // per-cell ADC tables are driver-built (FAISS's probe-list shape)
    val centRows = collectVecsOf(centroids, dim, "residual pq centroid")
    val cent = new Centroids(centRows, "residual pq centroid")

    // corpus→cell assignment (query-independent — persisted in
    // production, see [[ivfCellAssignment]]; barrier because the
    // residual frame below is read once per probed cell + once for
    // the codebook)
    val assigned = graft.Materialize.barrier(
      assignment.getOrElse(ivfCellAssignment(corpus, cent))
        .select(col("vec_id"), col("cid")))

    val centRaw = centRows.toMap
    val qRows = collectVecsOf(query, dim, "residual pq query")
    require(qRows.length == 1,
      s"residual pq: query must be exactly one vector, got ${qRows.length}")
    val qRaw = qRows(0)._2
    val probeCids: Seq[Long] = probeCells(query, cent, nProbe)

    // residuals — only for probed cells and the codebook seeds; each
    // side is one corpus join against the barriered assignment
    val centRawDf = broadcast(corpus.sparkSession.createDataFrame(centRows.toSeq)
      .toDF("cid", "craw"))
    def residuals(slice: DataFrame): DataFrame = slice
      .join(centRawDf, Seq("cid"))
      .select(col("vec_id"), col("cid"),
        call_function("graft_vec_sub",
          col("embedding").cast("array<double>"), col("craw")).as("embedding"))
    val corpusAssigned = corpus.join(assigned, Seq("vec_id"))
    val residPruned = residuals(corpusAssigned.where(col("cid").isin(probeCids: _*)))
    val seedsR = residuals(corpusAssigned
      .join(broadcast(seeds.select(col("vec_id"))), Seq("vec_id"), "left_semi"))
      .select(col("vec_id"), col("embedding"))

    // ONE scoring pass over all probed cells (r21): the codebook is
    // cell-independent — only the query's ADC TABLE differs per cell
    // (q − c(cell) residual) — so the codebook collects ONCE, encode
    // runs once per row, and the per-cell tables select by cid in a
    // CaseWhen whose branches are separate graft_pq_adc reference
    // objects. The old shape collected the identical codebook once
    // PER PROBED CELL (nProbe driver round-trips over the full seed
    // frame) and unioned nProbe scan branches behind a barrier; with
    // a single consumer chain the residual/seed/union barriers are
    // gone too (r20 discipline: a barrier is only worth its write
    // when the frame is reused). Values are bit-identical: same
    // codebook bits, same per-cell table bits, same fold.
    val cb = collectVecsOf(seedsR, dim, "residual pq codebook")
    require(cb.nonEmpty, "residual pq: empty codebook")
    val kCb = cb.length
    val cbFlat: Array[Double] = cb.flatMap(_._2)
    val emb = col("embedding").cast("array<double>")
    val guard = when(size(emb) === dim, col("vec_id"))
      .otherwise(raise_error(concat(
        lit(s"pq corpus: expected $dim dims, got "), size(emb).cast("string"))))
    val coded = graft.dedup.Dedup.parallelize(residPruned)
      .select(guard.as("vec_id"), col("cid"),
        call_function("graft_pq_encode",
          emb, typedlit(cbFlat), lit(m), lit(dsub)).as("codes"))
    val adcByCell = probeCids.map { c =>
      val craw = centRaw(c)
      val qres = Array.tabulate(dim)(i => qRaw(i) - craw(i))
      (c, pqQueryTable(qres, cb, m, dsub))
    }
    def cellAdc(c: Long, tbl: Array[Double]) =
      call_function("graft_pq_adc", col("codes"), typedlit(tbl), lit(kCb))
    val adc6 = adcByCell.tail.foldLeft(
      when(col("cid") === lit(adcByCell.head._1),
        cellAdc(adcByCell.head._1, adcByCell.head._2))) {
      case (acc, (c, tbl)) => acc.when(col("cid") === lit(c), cellAdc(c, tbl))
    }
    val codeCols = (0 until m).map(j =>
      element_at(col("codes"), j + 1).as(s"code$j"))
    val scored = coded.select(col("vec_id") +: codeCols :+ adc6.as("adc6"): _*)
    scored.orderBy(col("adc6").asc, col("vec_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("adc6").asc, col("vec_id"))))
  }
}
