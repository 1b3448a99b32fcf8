package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only 200× scale smoke for the dedup / corpus / similarity
  * layers (SCALE_NOTES.md): synthesizes a deterministic 1M-document
  * corpus (60 tokens each, 50k-token vocabulary, 1% planted near-dups
  * sharing 59/60 tokens) and 200k×64 embeddings (1% planted
  * cos≈0.999 near-dups) into `outDir` with the driver testdata
  * schemas, then times the PRODUCTION query functions
  * (SparkEntry.queries) against it unchanged. Usage:
  *   sbt "runMain graft.tools.ScaleSmoke [outDir] [--run=section,...]"
  * where each section is a name passed to `want(...)` below (dedup,
  * ivf, wmedian, ...); no --run flag = all sections. The shared
  * datasets are generator-stamped (`ensureParquet`): a second run
  * reuses them.
  */
object ScaleSmoke {

  /** Max per-task peak execution memory + duration across all tasks
    * since the last reset — the "bounded per-task state" evidence for
    * the skew paths. */
  private class PeakListener extends SparkListener {
    @volatile var peakMem = 0L
    @volatile var maxTaskMs = 0L
    // per-stage straggler attribution: stageId → (maxTaskMs, nTasks,
    // sumTaskMs) so a global max-task figure can be traced to the
    // stage (and through the stage name to the operator) it came from
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        peakMem = math.max(peakMem, m.peakExecutionMemory)
        maxTaskMs = math.max(maxTaskMs, m.executorRunTime)
        stages.merge(t.stageId, (m.executorRunTime, 1L, m.executorRunTime),
          (a, b) => (math.max(a._1, b._1), a._2 + b._2, a._3 + b._3))
      }
    }
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      stageNames.put(s.stageInfo.stageId, s.stageInfo.name)
    def topStages(n: Int): String = {
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._2._1).take(n).map { case (id, (mx, cnt, sum)) =>
        val name = Option(stageNames.get(id)).getOrElse("?").takeWhile(_ != '\n').take(60)
        f"stage$id[$name] max=${mx / 1000.0}%.1fs mean=${sum / math.max(cnt, 1) / 1000.0}%.1fs n=$cnt"
      }.mkString("; ")
    }
    def reset(): Unit = { peakMem = 0L; maxTaskMs = 0L; stages.clear(); stageNames.clear() }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.filterNot(_.startsWith("--")).getOrElse("/tmp/graft_scale")
    val sections: Set[String] = args.find(_.startsWith("--run="))
      .map(_.stripPrefix("--run=").split(",").toSet).getOrElse(Set.empty)
    def want(s: String): Boolean = sections.isEmpty || sections(s)
    val nDocs = 1000000L
    val nVecs = 200000L
    // 64 shuffle partitions and Spark's default 128m scan split are
    // the shapes every 10M section's plan and timing was recorded at
    val spark = DevSession.build(Map(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.files.maxPartitionBytes" -> "128m"))
    val peaks = new PeakListener
    spark.sparkContext.addSparkListener(peaks)

    // duplicate-subtree audit on the at-scale plan (PlanAudit): a
    // smoke section prints its operator's findings so a regression
    // that re-introduces a reuse-defeated recompute shows up here
    def auditAndPrint(label: String, df: DataFrame): Unit = {
      val fs = PlanAudit.audit(df)
      if (fs.isEmpty) println(s"SCALE $label plan-audit: clean")
      else fs.foreach(f => println(s"SCALE $label ${f.toString.take(200)}"))
    }

    // guarded create-or-reuse for the shared 10M smoke datasets: their
    // schemas are load-bearing ACROSS sections (a later section derives
    // columns from whatever an earlier one wrote), so each dataset has
    // exactly ONE generator here — editing it cannot leave a sibling
    // section regenerating a divergent copy (review r17 finding)
    // generator-stamped reuse (ADVICE r17): a dataset directory is
    // reused only when its stamp file matches the CURRENT generator
    // version — a stale tree from an earlier round with different
    // schema/content regenerates instead of silently feeding the smoke
    val genVersion = "r18-v1"
    def ensureParquet(name: String)(df: => DataFrame): Unit = {
      val stamp = java.nio.file.Paths.get(s"$outDir/$name.gen")
      val fresh = new java.io.File(s"$outDir/$name").exists() &&
        java.nio.file.Files.exists(stamp) &&
        java.nio.file.Files.readString(stamp).trim == genVersion
      if (!fresh) {
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        java.nio.file.Files.writeString(stamp, genVersion)
      }
    }
    def ensureCust10m(): Unit = ensureParquet("cust10m.parquet")(
      spark.range(10000000L).select(col("id").as("k"),
        (pmod(xxhash64(col("id") * 131 + 7), lit(1000000L)).cast("double")
          / lit(100.0)).as("spend")))
    def ensureRepair10m(): Unit = ensureParquet("repair10m.parquet")(
      spark.range(10000000L).select((col("id") % 1000000L).as("g"),
        (col("id") % 97).as("x"), (col("id") % 13).as("y")))
    def ensureRepairDim(): Unit = ensureParquet("repairdim.parquet")(
      spark.range(1000000L).select(col("id").as("g"), (col("id") % 101).as("z")))

    def timed(label: String, runs: Int = 2)(body: => Long): Unit = {
      var rows = 0L
      // snapshot the listener per run: the reported memory/straggler
      // attribution must describe the SAME run as the min-time headline
      // (printing the live listener after the loop described the last
      // run next to the best run's number)
      val measured = (1 to runs).map { _ =>
        peaks.reset()
        val t0 = System.nanoTime()
        rows = body
        val dt = (System.nanoTime() - t0) / 1e9
        val snap = (peaks.peakMem, peaks.maxTaskMs, peaks.topStages(4))
        DevSession.clearPersisted(spark); System.gc()
        (dt, snap)
      }
      val (dt, (peakMem, maxTaskMs, topStages)) = measured.minBy(_._1)
      println(f"SCALE $label%-28s $dt%8.1f s  rows=$rows  " +
        f"peakTaskMem=${peakMem / (1024 * 1024)}%dMB maxTask=${maxTaskMs / 1000.0}%.1fs")
      println(s"SCALE   $label top-stages: $topStages")
    }

    // --- synthesize ------------------------------------------------------
    // docs: ids ≡ 1 (mod 100) copy the previous doc's first 59 tokens
    // and change the last one. embeddings: ids ≡ 1 (mod 100) copy the
    // previous vector with component 0 shifted by +0.07 (cos ≈ 0.999;
    // random-pair cosines concentrate at 0 ± 0.125, max over 2e10
    // pairs ≈ 0.82 — clean separation around a 0.9 threshold).
    {
      val base = when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id"))
      val toks = transform(sequence(lit(0), lit(58)),
        i => concat(lit("w"), pmod(xxhash64(base * 59 + i), lit(50000L))))
      val lastTok = concat(lit("w"), pmod(xxhash64(col("id") * 7919 + 13), lit(50000L)))
      ensureParquet("documents.parquet")(spark.range(nDocs)
        .select(col("id").as("doc_id"),
          concat_ws(" ", concat(toks, array(lastTok))).as("text"),
          lit("en").as("lang"), lit("synth").as("source"))
        .withColumn("n_chars", length(col("text"))))
      val vecBase = when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id"))
      ensureParquet("embeddings.parquet")(spark.range(nVecs)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            i => ((pmod(xxhash64(vecBase * 64 + i), lit(2000L)).cast("double") / 1000.0 - 1.0) +
              when(col("id") % 100 === 1 && i === 0, 0.07).otherwise(0.0))
              .cast("float")).as("embedding"),
          (col("id") % 10).cast("int").as("label")))
    }

    // --- production dedup/corpus paths (min of 2 runs = steady state;
    // the first run carries JIT/codegen warmup, which at this data size
    // is tens of seconds of C2 compilation on the md5 kernels) --------
    if (want("dedup")) {
      val keys = Seq("x1_exact_dedup", "x2_minhash_lsh", "x3_simhash",
        "x4_ngram_jaccard", "cc1_dedup_clusters", "v1_vocab_topk",
        "sm1_hash_split", "pk1_sequence_pack", "t1_token_stats", "t2_quality")
      keys.foreach { name =>
        timed(name)(graft.SparkEntry.queries(name)(spark, outDir).count())
      }
    }

    // --- similarity on 200k vectors: IVF with 200 modulo centroids ---
    if (want("ivf")) {
      val e = graft.sources.Tables.read(spark, outDir, "embeddings")
      timed("s2_ivf_topk_200k") {
        graft.similarity.Similarity.ivfTopK(
          e.where(col("vec_id") < 100), e,
          centroids = e.where(col("vec_id") % 1000 === 0), k = 5, nProbe = 3).count()
      }
    }

    // --- hot-bucket skew: END-TO-END x2 with a planted 5k-wide
    // duplicate cohort (ids < 5000 share one text → every LSH band has
    // one bucket of width 5000; all C(5000,2) = 12.5M cross pairs are
    // true J=1.0 dups, so verify passes them all — the output itself
    // is quadratic in cohort width, which is WHY production pipelines
    // run x1 exact-dedup before LSH on such corpora). Total work is
    // identical narrow-vs-blocked; what changes is the task SHAPE:
    // narrow streams each hot bucket's 12.5M pairs through ONE task
    // per band (the max-task-seconds skew), blocked (block=500 →
    // C(10,2)+10=55 chunk-pair tasks per band, ≤1000 ids per row)
    // spreads it ~50-way. Both counts must agree. ---
    if (want("hot")) {
      val d = graft.sources.Tables.read(spark, outDir, "documents")
      val hot = d.select(
        col("doc_id"),
        when(col("doc_id") < 5000, lit("the same boilerplate header text repeated " +
          "across the whole cohort of five thousand documents word for word"))
          .otherwise(col("text")).as("text"))
      timed("x2_hot5k_narrow", runs = 1) {
        graft.dedup.Dedup.minhashNearDups(hot, threshold = 0.6).count()
      }
      timed("x2_hot5k_blocked500", runs = 1) {
        graft.dedup.Dedup.minhashNearDups(hot, threshold = 0.6,
          hotBucketBlock = Some(500)).count()
      }
    }

    // --- wide-bucket structural run: ONE bucket of width 50,000
    // through the PRODUCTION bucketPairsBlocked — 1.25e9 distinct
    // pairs (~20 GB through the dedup shuffle on this box). At the
    // 1e5 width the same shape is 5e9 pairs / ~80 GB: linear in pair
    // count, same bounded per-task memory (≤ 2·block ids per row),
    // (m/block)²/2 independent tasks — cluster work by construction,
    // beyond one box's disk. The narrow path at this width would
    // stream all 1.25e9 pairs through a single task (hours); not run.
    if (want("wide")) {
      val m = 50000L
      val keyed = spark.range(m).select(
        lit(0).as("band_idx"), lit("hot").as("bucket"), col("id").as("doc_id"))
      timed("widebucket50k_blocked4000", runs = 1) {
        graft.dedup.Dedup.bucketPairsBlocked(keyed, 4000, "band_idx", "bucket").count()
      }
    }

    // --- delta-incremental clustering at 1M docs: the last 1% of the
    // corpus arrives as a batch. Full recluster pays the propagation
    // loop over all 1M labels (each round = two shuffle joins + a min
    // agg over the corpus); the incremental fold contracts to the
    // touched roots (≈ batch-sized), propagates there, and pays the
    // corpus only one broadcast remap + the size recount. Both paths
    // must produce identical label sums (exactness cross-check). ---
    if (want("incr")) {
      val d = graft.sources.Tables.read(spark, outDir, "documents")
      graft.dedup.Dedup.minhashNearDups(d, threshold = 0.9)
        .select("doc_a", "doc_b").write.mode("overwrite")
        .parquet(s"$outDir/pairs_x2.parquet")
      val edges = spark.read.parquet(s"$outDir/pairs_x2.parquet")
      val cut = 990000L
      graft.dedup.Dedup.dedupClusters(
          d.where(col("doc_id") < cut).select("doc_id"),
          edges.where(col("doc_a") < cut && col("doc_b") < cut))
        .select("doc_id", "cluster_id")
        .write.mode("overwrite").parquet(s"$outDir/prior_cc.parquet")
      val prior = spark.read.parquet(s"$outDir/prior_cc.parquet")
      var fullSum = 0L
      var incrSum = 0L
      timed("cc_full_recluster_1m", runs = 1) {
        val full = graft.dedup.Dedup.dedupClusters(d.select("doc_id"), edges)
        val agg = full.agg(sum(col("cluster_id")), count(lit(1))).head
        fullSum = agg.getLong(0); agg.getLong(1)
      }
      timed("cc2_incremental_fold_1m", runs = 1) {
        val incr = graft.dedup.Dedup.incrementalClusters(
          prior,
          d.where(col("doc_id") >= cut).select("doc_id"),
          edges.where(col("doc_a") >= cut || col("doc_b") >= cut))
        val agg = incr.agg(sum(col("cluster_id")), count(lit(1))).head
        incrSum = agg.getLong(0); agg.getLong(1)
      }
      require(fullSum == incrSum,
        s"incremental fold diverged from full recluster: $incrSum vs $fullSum")
      println(s"SCALE cc2 exactness: label sums agree ($fullSum)")

      // Chain-structured variant: with pair-shaped components (above)
      // both paths are round-bound at ~2 corpus-wide rounds and tie.
      // Chains of length 1024 make full recluster pay O(log d) rounds,
      // EACH two shuffle joins + a min-agg over all 1M labels; the
      // incremental fold runs those rounds only on the contracted
      // batch-sized graph and touches the corpus exactly once (remap
      // join + size recount), independent of diameter.
      val nC = 1000000L
      val docsC = spark.range(nC).toDF("doc_id")
      val chainEdges = spark.range(nC - 1).where(col("id") % 1024 =!= 1023)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val bridges = spark.range(nC / 65536).select(
        (col("id") * 65536).as("doc_a"), (col("id") * 65536 + 1024).as("doc_b"))
      graft.dedup.Dedup.dedupClusters(docsC, chainEdges)
        .select("doc_id", "cluster_id")
        .write.mode("overwrite").parquet(s"$outDir/prior_chain.parquet")
      val priorChain = spark.read.parquet(s"$outDir/prior_chain.parquet")
      var fullC = 0L
      var incrC = 0L
      timed("cc_full_chain1024_1m", runs = 1) {
        val full = graft.dedup.Dedup.dedupClusters(
          docsC, chainEdges.unionByName(bridges))
        val agg = full.agg(sum(col("cluster_id")), count(lit(1))).head
        fullC = agg.getLong(0); agg.getLong(1)
      }
      timed("cc2_incr_chain1024_1m", runs = 1) {
        val incr = graft.dedup.Dedup.incrementalClusters(
          priorChain, spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0),
          bridges)
        val agg = incr.agg(sum(col("cluster_id")), count(lit(1))).head
        incrC = agg.getLong(0); agg.getLong(1)
      }
      require(fullC == incrC,
        s"chain incremental fold diverged: $incrC vs $fullC")
      println(s"SCALE cc2 chain exactness: label sums agree ($fullC)")
    }

    // --- corpus-prep ops at 1M docs: pk2 runs its WORST case here —
    // every synthetic doc has the same token count, so the whole
    // corpus is one length-tie group and the doc_id range sharding
    // is the only thing standing between the rank decomposition and
    // a single-task window. t8 exercises the vocab join + per-doc
    // ordered fold at 60M tokens; t7 is the pure-map baseline. ---
    if (want("prep")) {
      val Q = graft.queries.CorpusQueries
      val T = graft.queries.TextAnalysis
      // force real columns (count() would let Catalyst prune the aggs)
      timed("pk2_lenbuckets_1m_ties", runs = 1) {
        val r = Q.pk2LengthBuckets(spark, outDir)
          .agg(sum(col("sum_tok")), sum(col("n_docs"))).head
        r.getLong(1)
      }
      timed("t7_gopher_1m", runs = 1) {
        T.t7GopherRules(spark, outDir)
          .agg(sum(col("n_stop_kinds")), count(when(col("keep"), 1))).head.getLong(1)
      }
      timed("t8_unigram_nll_1m", runs = 1) {
        val r = T.t8UnigramNll(spark, outDir)
          .agg(sum(col("nll_mean")), count(lit(1))).head
        r.getLong(1)
      }
    }

    // --- round-7 corpus-prep additions: sub-document chunk dedup over
    // the 1M-doc corpus; SemDeDup over the 200k vectors with k ≈ √N
    // cells (the paper's knob: k ∝ N keeps E|c| constant, so the
    // within-cluster pair scan stays ~N·E|c|) ------------------------
    if (want("prep2")) {
      val docs = spark.read.parquet(s"$outDir/documents.parquet")
      timed("ld1_chunk_dedup_1m", runs = 2) {
        val r = graft.dedup.Dedup.chunkDedup(docs, chunkTokens = 10)
          .agg(sum(col("n_chunks")), sum(col("n_removed")), count(lit(1))).head
        println(s"SCALE   ld1 occurrences=${r.getLong(0)} removed=${r.getLong(1)}")
        r.getLong(2)
      }
      // planted HOT chunk: 100k extra docs that are all the SAME
      // 10-token text → one chunk hash with 100k occurrences. The
      // scaladoc claims the canonical join is AQE-splittable (it is
      // deliberately a hash join on the chunk digest, not a window
      // that would pin the hot hash to one task); the evidence is the
      // bounded maxTask + dominant-stage max/mean below.
      val hot = spark.range(100000L)
        .select((col("id") + 10000000L).as("doc_id"),
          lit("boiler plate chunk text repeated verbatim in every doc here").as("text"))
      val withHot = docs.select(col("doc_id"), col("text")).unionByName(hot)
      timed("ld1_hot_chunk_100k", runs = 2) {
        val r = graft.dedup.Dedup.chunkDedup(withHot, chunkTokens = 10)
          .where(col("doc_id") >= 10000000L)
          .agg(sum(col("n_removed")), count(lit(1))).head
        require(r.getLong(0) == 99999L,
          s"hot chunk: expected 99999 removed occurrences, got ${r.getLong(0)}")
        r.getLong(1)
      }
      val embs = spark.read.parquet(s"$outDir/embeddings.parquet")
      // deterministic ~447 seeds over 200k ids, one Lloyd round (the
      // smoke measures the semDedup scan, not centroid convergence)
      val seeds = embs.where(col("vec_id") % 447 === 0)
      val trained = graft.similarity.Similarity.kmeansCentroids(embs, seeds, iters = 1)
      timed("sd1_semdedup_200k_k448", runs = 2) {
        val r = graft.similarity.Similarity.semDedup(embs, trained, threshold = 0.9)
          .agg(count(when(col("is_dup"), 1)), count(lit(1))).head
        println(s"SCALE   sd1 dups_flagged=${r.getLong(0)}")
        r.getLong(1)
      }
      // Σ|c|² evidence straight from the operator's OUTPUT: the pair
      // scan compares only within clusters, so its exact pair volume
      // is Σ|c|(|c|−1)/2 over the assignment's cluster sizes — print
      // it against the N(N−1)/2 an unclustered scan would pay.
      val sizes = graft.similarity.Similarity.semDedup(embs, trained, threshold = 0.9)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("c"))
      val ev = sizes.agg(
        sum(col("c") * (col("c") - 1) / 2).as("pairs"),
        max(col("c")).as("maxc"), count(lit(1)).as("k")).head
      val n = embs.count()
      println(f"SCALE   sd1 pair-scan volume: sum|c|(|c|-1)/2=${ev.getDouble(0)}%.3e " +
        f"vs N(N-1)/2=${n.toDouble * (n - 1) / 2}%.3e (k=${ev.getLong(2)}, max|c|=${ev.getLong(1)})")
    }

    // --- round-8 additions: substring-level exact dedup (sb1) and
    // DSIR selection (ir1) over the 1M-doc corpus --------------------
    if (want("prep3")) {
      val docs = spark.read.parquet(s"$outDir/documents.parquet")
      timed("sb1_substring_1m", runs = 2) {
        val r = graft.dedup.Dedup.substringDedup(docs, l = 5)
          .agg(sum(col("dup_starts")), sum(col("covered_tokens")),
            count(when(!col("keep"), 1)), count(lit(1))).head
        println(s"SCALE   sb1 dup_starts=${r.getLong(0)} " +
          s"covered=${r.getLong(1)} dropped=${r.getLong(2)}")
        r.getLong(3)
      }
      // planted HOT gram: 100k identical 10-token docs → every 5-gram
      // of that text carries 100k+ occurrences. The occurrence count
      // partial-combines map-side and the dup-gram join is N:1 (each
      // occurrence row meets exactly one dup row) — structurally
      // skew-proof; the evidence is the bounded maxTask figure and
      // the exact full-coverage assertion.
      val hot = spark.range(100000L)
        .select((col("id") + 10000000L).as("doc_id"),
          lit("boiler plate text repeated verbatim in every single doc here").as("text"))
      val withHot = docs.select(col("doc_id"), col("text")).unionByName(hot)
      timed("sb1_hot_gram_100k", runs = 2) {
        val r = graft.dedup.Dedup.substringDedup(withHot, l = 5)
          .where(col("doc_id") >= 10000000L)
          .agg(sum(col("covered_tokens")), count(lit(1))).head
        require(r.getLong(0) == 1000000L,
          s"hot gram: expected full coverage 1000000, got ${r.getLong(0)}")
        r.getLong(1)
      }
      // keep-first removal under the SAME planted hot gram: the
      // min(struct(doc, pos)) canonical pick partial-combines inside
      // the gram-count aggregate, so the 100k-occurrence gram still
      // cannot pin a task. Exact arithmetic: the 6 hot grams' global
      // first occurrences all sit in the lowest-id hot doc, which
      // keeps all 10 tokens; the other 99,999 hot docs stay fully
      // covered → 999,990.
      timed("sb2_keepfirst_hot_100k", runs = 2) {
        val r = graft.dedup.Dedup.substringDedup(withHot, l = 5, keepFirst = true)
          .where(col("doc_id") >= 10000000L)
          .agg(sum(col("covered_tokens")), count(lit(1))).head
        require(r.getLong(0) == 999990L,
          s"keep-first hot gram: expected coverage 999990, got ${r.getLong(0)}")
        r.getLong(1)
      }
      // synthetic corpus is single-lang, so the smoke's target slice
      // is a 10% id-hash cut — the smoke measures the plan shape and
      // throughput, not the semantics (the gate key covers those)
      timed("ir1_dsir_1m", runs = 2) {
        val r = graft.queries.CorpusQueries.dsirSelect(
          docs, col("doc_id") % 10 === 0)
          .agg(sum(col("w_mean")), count(lit(1))).head
        r.getLong(1)
      }
      // production fast path: plain partial-aggregated sum(n·λ) — the
      // ordered fold above is the oracle-determinism tax, not the
      // operator's inherent cost
      timed("ir1_dsir_1m_fastsum", runs = 2) {
        val r = graft.queries.CorpusQueries.dsirSelect(
          docs, col("doc_id") % 10 === 0, orderedFold = false)
          .agg(sum(col("w_mean")), count(lit(1))).head
        r.getLong(1)
      }
      // e2 PQ encode over the 200k embeddings: a pure projection via
      // the native graft_pq_encode kernel (round 9 — plan size O(1)
      // in m·k), so the interesting number is rows/s
      val embs = spark.read.parquet(s"$outDir/embeddings.parquet")
      timed("e2_pq_encode_200k", runs = 2) {
        val r = graft.similarity.Similarity.pqEncodeAdc(
          embs, embs.where(col("vec_id") < 16), embs.where(col("vec_id") === 17))
          .agg(sum(col("adc6")), count(lit(1))).head
        r.getLong(1)
      }
    }

    // --- 200k×64 embedding near-dup: exact blocked triangle (x5
    // shape, 2e10 dot products — inherent to exact all-pairs) vs
    // sign-LSH (x6 shape) at a realistic 0.9 threshold where LSH is
    // separable: candidates ≈ bands·N²·2^-bits ≪ N². ---
    if (want("vec")) {
      val e = graft.sources.Tables.read(spark, outDir, "embeddings")
      val Sim = graft.similarity.Similarity
      var exactPairs = 0L
      timed("x5_neardup200k_blocked", runs = 1) {
        exactPairs = Sim.nearDupPairs(e, threshold = 0.9).count()
        exactPairs
      }
      // candidate stage alone (the ≪ N² claim), then the full operator
      val v = graft.dedup.Dedup.materialize(Sim.normalized(e, "id", "emb"))
      timed("x6_lsh200k_candidates", runs = 1) {
        graft.dedup.Dedup.bandCandidates(
          Sim.signBands(v, bits = 16, bands = 8, dim = 64)).count()
      }
      var lshPairs = 0L
      timed("x6_lsh200k_pairs", runs = 1) {
        lshPairs = Sim.lshNearDupPairs(e, threshold = 0.9).count()
        lshPairs
      }
      println(f"SCALE x6 recall vs exact: $lshPairs/$exactPairs = " +
        f"${if (exactPairs > 0) lshPairs.toDouble / exactPairs else 0.0}%.3f")
      var probedPairs = 0L
      timed("x8_multiprobe200k_pairs", runs = 1) {
        probedPairs = Sim.lshNearDupPairsMultiProbe(e, threshold = 0.9).count()
        probedPairs
      }
      println(f"SCALE x8 recall vs exact: $probedPairs/$exactPairs = " +
        f"${if (exactPairs > 0) probedPairs.toDouble / exactPairs else 0.0}%.3f")
      // query-adaptive probing: 2 most-marginal flips per band — the
      // cheap recall lever (3× key fan-out vs radius-1's 17×)
      var adaptPairs = 0L
      timed("x10_adaptive200k_pairs", runs = 1) {
        adaptPairs = Sim.lshNearDupPairsAdaptive(e, threshold = 0.9, probes = 2).count()
        adaptPairs
      }
      println(f"SCALE x10 (probes=2) recall vs exact: $adaptPairs/$exactPairs = " +
        f"${if (exactPairs > 0) adaptPairs.toDouble / exactPairs else 0.0}%.3f")
    }

    // radius-2 ring at HALF the bands — the trade the knob exists
    // for: radius 2 spends probe keys ((1+16+120)× per band) to buy
    // back index width (bands 8 → 4, comparable theoretical recall
    // at cos 0.9). Radius 2 STACKED on bands=8 is the documented
    // heavy end: 219M probe keys whose candidate join spilled past
    // this box's disk — measured, which is exactly why the scaladoc
    // says "fewer bands at higher recall", not "more of both".
    // Standalone section (`--run=vec9`) so the skew profile of the
    // salted candidate join can be re-measured without the exact scan.
    if (want("vec") || want("vec9")) {
      val e = graft.sources.Tables.read(spark, outDir, "embeddings")
      val Sim = graft.similarity.Similarity
      var probed2 = 0L
      timed("x9_probe2_b4_200k_salt8", runs = 1) {
        probed2 = Sim.lshNearDupPairsMultiProbe(
          e, threshold = 0.9, bands = 4, probeRadius = 2).count()
        probed2
      }
      var probed2u = 0L
      timed("x9_probe2_b4_200k_salt1", runs = 1) {
        probed2u = Sim.lshNearDupPairsMultiProbe(
          e, threshold = 0.9, bands = 4, probeRadius = 2, saltBuckets = 1).count()
        probed2u
      }
      require(probed2 == probed2u, s"salting changed the pair set: $probed2 vs $probed2u")
      println(s"SCALE x9 (bands=4, radius 2) pairs: $probed2 (exact count 2000 at this gen)")
    }

    // --- round-10 retrieval stack (`--run=retr`): the r9-new
    // families' 100 TB claims, measured. 200k×64 corpus; 200 coarse
    // cells (vec_id % 1000 centroids); PQ codebook = 256 lowest-id
    // vectors (m=4, dsub=16 → k=256 per subspace, the production
    // codebook size); query = vec 177. Production posture throughout:
    // the query-INDEPENDENT cell assignment is persisted to parquet
    // once and every probe reads it back — the per-query cost is the
    // probe itself. ---
    if (want("retr")) {
      val Sim = graft.similarity.Similarity
      val e = graft.sources.Tables.read(spark, outDir, "embeddings")
      val centroids = e.where(col("vec_id") % 1000 === 0) // 200 cells
      val seeds = e.where(col("vec_id") < 256)
      val query = e.where(col("vec_id") === 177)

      // indexing cost (amortized, query-independent): assignment build
      // + persist, paid once per corpus/centroid change
      val tA = System.nanoTime()
      Sim.ivfCellAssignment(e, centroids)
        .write.mode("overwrite").parquet(s"$outDir/ivf_assign.parquet")
      println(f"SCALE retr: assignment build+persist ${(System.nanoTime() - tA) / 1e9}%.1f s (query-independent, amortized)")
      def assign = spark.read.parquet(s"$outDir/ivf_assign.parquet")

      // the IVF knob: fraction of the corpus the probe actually scores
      val prunedRows = Sim.ivfAdcPruned(e, query, centroids, 3, Some(assign)).count()
      println(f"SCALE retr: s5 pruned scan = $prunedRows/$nVecs rows = ${prunedRows.toDouble / nVecs}%.4f of corpus (nProbe=3 of 200 cells)")

      timed("s5_ivfadc_200k") {
        Sim.ivfAdcTopK(e, seeds, query, centroids, topK = 20,
          nProbe = 3, assignment = Some(assign)).count()
      }
      timed("s6_residual_200k") {
        Sim.ivfAdcResidualTopK(e, seeds, query, centroids, topK = 20,
          nProbe = 3, assignment = Some(assign)).count()
      }

      // physical layout: corpus partitioned BY CELL — the probe's
      // cells become a PartitionFilter and unprobed directories are
      // never read (the ivfTopK scaladoc promise, grounded)
      val cellPath = s"$outDir/corpus_by_cell.parquet"
      val tW = System.nanoTime()
      Sim.writeCorpusByCell(e, assign, cellPath)
      println(f"SCALE retr: partitionBy(cid) layout write ${(System.nanoTime() - tW) / 1e9}%.1f s (amortized indexing cost)")
      timed("s5_partitioned_200k") {
        Sim.ivfAdcTopKPartitioned(spark, cellPath, seeds, query, centroids,
          topK = 20, nProbe = 3).count()
      }
      // pruning evidence from the SAME execution: collect() binds the
      // metrics to this plan; numFiles counts only the probed cells'
      // files vs the full layout's file population
      val cids = Sim.probeCells(query, centroids, nProbe = 3)
      val prunedDf = spark.read.parquet(cellPath)
        .where(col("cid").isin(cids: _*)).select(col("vec_id"))
      val prunedN = prunedDf.collect().length
      val scanLeaf = prunedDf.queryExecution.executedPlan.collectLeaves().head
      val filesRead = scanLeaf.metrics.get("numFiles").map(_.value).getOrElse(-1L)
      val filesTotal = spark.read.parquet(cellPath)
        .select(input_file_name()).distinct().count()
      println(s"SCALE retr: partition-pruned probe read $filesRead of $filesTotal files ($prunedN rows, ${cids.length} cells)")
      prunedDf.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("PartitionFilters") || l.contains("Scan parquet"))
        .foreach(l => println("SCALE retr plan: " + l.trim.take(240)))

      // compression-cascade ladder, composed end-to-end: binary
      // sign-bit screen (8 B/vec) 200k → 5000, matryoshka prefix-16
      // screen (64 B) 5000 → 500, full-dim rerank (256 B) 500 → 10 —
      // each rung's byte budget only touches the previous rung's
      // survivors
      timed("cascade_e3_e5_e4_200k") {
        val c1 = Sim.binaryHammingTopK(e, query, topK = 5000)
          .select(col("vec_id"))
        val corpus1 = e.join(broadcast(c1), Seq("vec_id"), "left_semi")
        Sim.matryoshkaRerankTopK(corpus1, query, prefixDim = 16,
          candidates = 500, topK = 10).count()
      }
      println("SCALE retr cascade rungs: 200000 -(8B/vec hamming)-> 5000 -(64B prefix cos)-> 500 -(256B full cos)-> 10")
      // the single-operator forms at the same corpus size
      timed("e3_hamming_200k") {
        Sim.binaryHammingTopK(e, query, topK = 100).count() }
      timed("e4_binary_rerank_200k") {
        Sim.binaryRerankTopK(e, query, candidates = 100, topK = 10).count() }
      timed("e5_matryoshka_200k") {
        Sim.matryoshkaRerankTopK(e, query, prefixDim = 16,
          candidates = 100, topK = 10).count() }

      // e6 multi-query batching: 64 queries through the SAME cascade —
      // ONE stage-1 corpus scan serves all 64 (the corpus-scan count
      // in the plan is Q-independent; wall should grow far slower
      // than 64×)
      val q64 = e.where(col("vec_id") % 3125 === 0) // 64 queries
      timed("e6_multiq_q64_200k") {
        Sim.binaryRerankTopK(e, q64, candidates = 100, topK = 10).count() }
      timed("e6_multiq_q1_200k") {
        Sim.binaryRerankTopK(e, query, candidates = 100, topK = 10).count() }
      def corpusScans(df: DataFrame): Int =
        df.queryExecution.executedPlan.toString.linesIterator
          .count(_.contains("Scan parquet"))
      val scans64 = corpusScans(Sim.binaryRerankTopK(e, q64, 100, 10))
      val scans1 = corpusScans(Sim.binaryRerankTopK(e, query, 100, 10))
      require(scans64 == scans1,
        s"e6 stage-1 scan count grew with Q: $scans64 (Q=64) vs $scans1 (Q=1)")
      println(s"SCALE retr: e6 corpus-scan count Q=64 vs Q=1: $scans64 == $scans1 (one stage-1 scan serves all queries)")
    }

    // --- e6 stage attribution (`--run=retr2`): where do the Q=64
    // seconds go — the Q·N integer screen (stage 1) or the float
    // rerank join (stage 2)? ---
    if (want("retr2")) {
      val e = graft.sources.Tables.read(spark, outDir, "embeddings")
      val Sim = graft.similarity.Similarity
      val q64 = e.where(col("vec_id") % 3125 === 0)
      timed("e6_stage1_screen_q64") {
        Sim.binaryHammingTopK(e, q64, topK = 100).count() }
      timed("e6_full_q64") {
        Sim.binaryRerankTopK(e, q64, candidates = 100, topK = 10).count() }
      timed("e6_stage1_screen_q1") {
        Sim.binaryHammingTopK(e, e.where(col("vec_id") === 177), topK = 100).count() }
    }

    // --- quality scorer at 1M docs (`--run=qual`): the cu3 native
    // expression's throughput claim measured — a zero-exchange
    // projection over the scan (61 hashed features/doc at 60 tokens,
    // unigrams + bigrams... 119 features). ---
    if (want("qual")) {
      graft.functions.GraftFunctions.register(spark)
      val d = graft.sources.Tables.read(spark, outDir, "documents")
      val w = graft.queries.PipelineQueries.qualityLexiconWeights
      var kept = 0L
      timed("cu3_quality_1m") {
        val scored = d.select(col("doc_id"),
          call_function("graft_quality_score", col("text"),
            typedlit(w), lit(0.0), lit(2)).as("logit6"))
        kept = scored.where(col("logit6") >= -0.1).count()
        d.count()
      }
      println(s"SCALE qual: cu3 scorer kept $kept of 1,000,000 (threshold -0.1; deterministic)")

      // sp1 at 1M docs: the split rides cc1's closure (smoked at 14 s
      // in the round-4 addendum) + one integer hash; the thing worth
      // ASSERTING at scale is the leakage invariant itself
      var straddle = -1L
      timed("sp1_split_1m", runs = 1) {
        val sp = graft.SparkEntry.queries("sp1_leakage_safe_split")(spark, outDir)
        straddle = sp.groupBy(col("cluster_id"))
          .agg(countDistinct(col("split")).as("ns"))
          .where(col("ns") > 1).count()
        sp.count()
      }
      require(straddle == 0L,
        s"sp1: $straddle clusters straddle splits at 1M docs — leakage invariant broken")
      println("SCALE qual: sp1 leakage invariant at 1M docs — 0 clusters straddle splits (asserted)")

      // sk3 sketch side at 1M rows, PRODUCTION form (exactAudit=false:
      // the rank-sized audit heaps are the documented drop-at-scale
      // columns; the sketch alone is a k=256 hash heap per partition)
      timed("sk3_quantiles_1m") {
        graft.operators.Sketches.kmvQuantiles(
          d.select(col("doc_id"), col("n_chars")),
          col("doc_id"), col("n_chars"), exactAudit = false).count()
      }
    }

    // --- pr1 pagerank at 1M+ edges (`--run=pr`): per-iteration shape
    // = edge join + partial-combined contribution sum; synthetic
    // hash-derived graph over 500k nodes with a planted 10k-star hub
    // so the contribution sum sees a genuinely hot node. ---
    if (want("pr")) {
      val edgePath = s"$outDir/pr_edges.parquet"
      spark.range(1000000L).select(
          pmod(xxhash64(col("id") * 31 + 7), lit(500000L)).as("doc_a"),
          pmod(xxhash64(col("id") * 131 + 3), lit(500000L)).as("doc_b"))
        .unionByName(
          // planted hub: node 0 linked from 10k distinct spokes
          spark.range(10000L).select(
            lit(0L).as("doc_a"), (col("id") + 1000000L).as("doc_b")))
        .where(col("doc_a") =!= col("doc_b"))
        .write.mode("overwrite").parquet(edgePath)
      val nEdges = spark.read.parquet(edgePath).count()
      timed("pr1_pagerank_1m_edges") {
        graft.dedup.Dedup.pairPageRank(spark.read.parquet(edgePath)).count()
      }
      println(s"SCALE pr1: $nEdges input pairs, 3 power iterations — per-iteration cost ≈ wall/3 (one edge join + one partial-combined sum each)")
    }

    // --- tc1 triangles on the same 1M-edge graph + 10k-spoke hub:
    // degree orientation means the hub SOURCES no wedges (its edges
    // all point into it), so the planted hot node cannot explode the
    // wedge join — the curse-of-the-last-reducer case the algorithm
    // exists for. maxTask is the evidence line. -----------------------
    if (want("graph")) {
      val edgePath = s"$outDir/pr_edges.parquet"
      if (!new java.io.File(s"$edgePath/_SUCCESS").exists()) {
        spark.range(1000000L).select(
            pmod(xxhash64(col("id") * 31 + 7), lit(500000L)).as("doc_a"),
            pmod(xxhash64(col("id") * 131 + 3), lit(500000L)).as("doc_b"))
          .unionByName(
            spark.range(10000L).select(
              lit(0L).as("doc_a"), (col("id") + 1000000L).as("doc_b")))
          .where(col("doc_a") =!= col("doc_b"))
          .write.mode("overwrite").parquet(edgePath)
      }
      timed("tc1_triangles_1m_edges") {
        graft.dedup.Dedup.triangleCounts(spark.read.parquet(edgePath)).count()
      }
      val tri = graft.dedup.Dedup.triangleCounts(spark.read.parquet(edgePath))
      val total = tri.agg(sum(col("n_triangles"))).head.getLong(0) / 3
      val hub = tri.where(col("doc_id") === 0L).select("deg", "n_triangles").head
      println(s"SCALE tc1: $total triangles; hub deg=${hub.getLong(0)} " +
        s"triangles=${hub.getLong(1)} — the 10k-degree node did not straggle the wedge join")
    }

    // --- round-12 graph iteratives on the SAME 1M-edge + 10k-spoke
    // hub frame: bfs1's frontier rounds (the hub fans the frontier out
    // in one round — the skew case) and kc1's peel (the 10k spokes are
    // degree-1 and must peel in round 1). ---------------------------
    if (want("graph12")) {
      val edgePath = s"$outDir/pr_edges.parquet"
      require(new java.io.File(s"$edgePath/_SUCCESS").exists(),
        "graph12 needs pr_edges.parquet — run --run=graph first (or together)")
      val ed = spark.read.parquet(edgePath)
      var reached = 0L
      timed("bfs1_distance_1m_edges") {
        val d = graft.dedup.Dedup.bfsDistance(ed, id => id % 1000 === 0, maxHops = 4)
          .agg(count(lit(1)), sum(when(col("dist").isNotNull, 1L).otherwise(0L))).head
        reached = d.getLong(1)
        d.getLong(0)
      }
      println(s"SCALE bfs1: $reached nodes within 4 hops of the 1-in-1000 seed set")
      var inCore = 0L
      timed("kc1_kcore_1m_edges") {
        val c = graft.dedup.Dedup.kCore(ed, k = 2, rounds = 6)
          .agg(count(lit(1)), sum(col("in_core").cast("long"))).head
        inCore = c.getLong(1)
        c.getLong(0)
      }
      println(s"SCALE kc1: $inCore nodes in the 2-core " +
        s"(the 10k hub spokes are degree-1 by construction and peel in round 1)")
      // round-13: lp1 on the same frame — per-round cost is one keyed
      // label join + two partial-combined aggregates; the 10k-spoke
      // hub is the skew probe (its label messages key on the SPOKES,
      // so the hot node cannot pin a reducer)
      var nComm = 0L
      timed("lp1_label_prop_1m_edges") {
        val l = graft.dedup.Dedup.labelPropagation(ed, rounds = 3)
          .agg(count(lit(1)), countDistinct(col("community"))).head
        nComm = l.getLong(1)
        l.getLong(0)
      }
      println(s"SCALE lp1: $nComm communities after 3 synchronous rounds")
    }

    // --- round-13 text additions at 1M docs: ng1's gram-keyed window
    // min (58M gram rows, one exchange on the gram) and rep2's
    // per-doc dominance counts (partial-combined on (doc, gram)) ----
    if (want("novel")) {
      // aggregate REAL output columns: a bare count() lets the
      // optimizer eliminate the unique-key left joins and measure
      // only the base scan
      var novel = 0L
      timed("ng1_novelty_1m_docs") {
        val r = graft.SparkEntry.queries("ng1_ngram_novelty")(spark, outDir)
          .agg(count(lit(1)), sum(col("n_novel")), sum(col("n_grams"))).head
        novel = r.getLong(1)
        r.getLong(0)
      }
      println(s"SCALE ng1: $novel first-holder grams over the 1M-doc corpus " +
        "(1% planted near-dups share their template's grams)")
      timed("rep2_top_ngram_1m_docs") {
        val r = graft.queries.TextAnalysis.rep2TopNgram(spark, outDir)
          .agg(count(lit(1)), sum(col("top2_count"))).head
        r.getLong(0)
      }
    }

    // --- dc4 embedding decontamination at 200k x 64 embeddings: eval
    // slice broadcasts, corpus scans once through the BNLJ cross ----
    if (want("dc4")) {
      val e = graft.sources.Tables.read(spark, outDir, "embeddings")
      var flagged = 0L
      timed("dc4_embedding_decon_200k") {
        val r = graft.similarity.Similarity.embeddingDecontaminate(
            e, vid => vid % 13 === 0, threshold = 0.9)
          .agg(count(lit(1)), sum(col("contaminated").cast("long"))).head
        flagged = r.getLong(1)
        r.getLong(0)
      }
      println(s"SCALE dc4: $flagged of 200k-slice corpus vectors flagged >= 0.9 " +
        s"vs the ~15k-vector eval broadcast (planted near-dups at 1%)")
      // dc5: the bucketed variant on the SAME frame — the claims to
      // measure are (a) the dot-product volume drops to the band
      // collision rate vs dc4's full |corpus|x|eval|, (b) every dc5
      // flag is a dc4 flag (under-flag-only), at matched recall on
      // the planted 0.999-cos near-dups (16 bits x 8 bands, the
      // cos>=0.9 calibration in lshNearDupPairs' scaladoc)
      var flagged5 = 0L
      timed("dc5_lsh_decon_200k") {
        val r = graft.similarity.Similarity.embeddingDecontaminateLsh(
            e, vid => vid % 13 === 0, threshold = 0.9)
          .agg(count(lit(1)), sum(col("contaminated").cast("long"))).head
        flagged5 = r.getLong(1)
        r.getLong(0)
      }
      val nCorp = e.where(col("vec_id") % 13 =!= 0).count()
      val nEval = e.where(col("vec_id") % 13 === 0).count()
      val nCand = {
        val v = graft.similarity.Similarity.normalized(e, "id", "emb")
        val bb = v.select(col("id"),
          posexplode(call_function("graft_sign_bands",
            col("emb"), lit(16), lit(8), lit(64))).as(Seq("bi", "bk")))
        bb.where(col("id") % 13 =!= 0).join(
            bb.where(col("id") % 13 === 0).withColumnRenamed("id", "eid"),
            Seq("bi", "bk")).count()
      }
      println(f"SCALE dc5: $flagged5 flagged (dc4 flagged $flagged); dot volume " +
        f"$nCand%d candidate pairs vs dc4's ${nCorp * nEval}%d full cross " +
        f"(${nCand.toDouble / (nCorp * nEval) * 100}%.2f%%)")
    }

    // --- ed1 record linkage at 1M records: heavy name duplication
    // (the regime the distinct-value rewrite targets) — 5,000 distinct
    // names over 1M records; levenshtein pair volume follows
    // DISTINCT-name blocks (~25² × 200 = 125k pairs) instead of the
    // ~5×10^9 record pairs the naive form would verify. -------------
    if (want("link")) {
      val adjN = 25L
      val nounN = 200L
      val recs = spark.range(1000000L).select(
        col("id"),
        concat(lit("a"), pmod(xxhash64(col("id") * 13 + 1), lit(adjN)),
          lit(" n"), pmod(xxhash64(col("id") * 29 + 7), lit(nounN))).as("name"))
        .select(col("id"), col("name"),
          element_at(split(col("name"), " "), 2).as("block"))
      recs.write.mode("overwrite").parquet(s"$outDir/link_recs.parquet")
      val r = spark.read.parquet(s"$outDir/link_recs.parquet")
      // ONE aggregate computes both the row count and the matched
      // count — re-invoking the operator for the audit line would
      // re-run the whole linkage job
      var matched = 0L
      timed("ed1_linkage_1m_records") {
        val agg = graft.dedup.Dedup.blockedEditDistance(r, maxDist = 2)
          .agg(count(lit(1)),
            sum(when(col("n_near") > 0, 1L).otherwise(0L))).head
        matched = agg.getLong(1)
        agg.getLong(0)
      }
      val distinctPairs = spark.read.parquet(s"$outDir/link_recs.parquet")
        .select(col("block"), col("name")).distinct()
        .groupBy(col("block")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c"))).head.getLong(0)
      println(s"SCALE ed1: 1M records, 5k distinct names; levenshtein pair bound " +
        s"$distinctPairs (distinct-name) vs ~5e9 (naive record pairs); " +
        s"$matched records matched")
    }

    // --- ed1 ADVERSARIAL hot block: one block key ("n0") covering 20%
    // of 1M records AND carrying a rich name space (5,000 distinct
    // names vs ≤25 in every cold block), so Σ|block|² concentrates
    // ~25M levenshtein pairs in ONE join key — the worst case the
    // scaladoc's "the block key is the scale lever" sentence warns
    // about. The evidence is the honest one: wall + maxTask-vs-mean
    // for the pair-scan stage (a single hot key CANNOT parallelize
    // under hash partitioning), followed by the lever itself — the
    // same data under a composite (noun, adj-bucket) key, which
    // splits the hot block's pair work ~K² ways at the documented
    // recall trade (cross-bucket pairs are no longer candidates). ----
    if (want("linkhot")) {
      // 20% of ids land in noun 0; names there draw from 5,000
      // adjectives (id-keyed, so names repeat ~40×); cold blocks keep
      // the link-section regime (25 adjectives over 199 nouns)
      val hot = pmod(xxhash64(col("id") * 41 + 3), lit(5L)) === 0
      val noun = when(hot, lit(0L))
        .otherwise(pmod(xxhash64(col("id") * 29 + 7), lit(199L)) + 1)
      val adj = when(hot, pmod(xxhash64(col("id") * 13 + 1), lit(5000L)))
        .otherwise(pmod(xxhash64(col("id") * 13 + 1), lit(25L)))
      val recs = spark.range(1000000L).select(
        col("id"),
        concat(lit("a"), adj, lit(" n"), noun).as("name"),
        concat(lit("n"), noun).as("block"))
      recs.write.mode("overwrite").parquet(s"$outDir/linkhot_recs.parquet")
      val r = spark.read.parquet(s"$outDir/linkhot_recs.parquet")
      var matched = 0L
      timed("ed1_hot_block_20pct") {
        val agg = graft.dedup.Dedup.blockedEditDistance(r, maxDist = 2)
          .agg(count(lit(1)),
            sum(when(col("n_near") > 0, 1L).otherwise(0L))).head
        matched = agg.getLong(1)
        agg.getLong(0)
      }
      val hotPairs = r.select(col("block"), col("name")).distinct()
        .groupBy(col("block")).agg(count(lit(1)).as("c"))
        .agg(max(col("c") * col("c")), sum(col("c") * col("c"))).head
      println(s"SCALE ed1hot: hot block owns ${hotPairs.getLong(0)} of " +
        s"${hotPairs.getLong(1)} distinct-name pairs; $matched matched")
      // the lever: composite (noun, adj mod 16) key — hot-block pair
      // work drops ~16×/bucket; pairs straddling adj buckets are no
      // longer candidates (the documented recall trade)
      val r2 = r.withColumn("block",
        concat(col("block"), lit("#"),
          pmod(xxhash64(element_at(split(col("name"), " "), 1)), lit(16L))))
      var matched2 = 0L
      timed("ed1_hot_block_split16") {
        val agg = graft.dedup.Dedup.blockedEditDistance(r2, maxDist = 2)
          .agg(count(lit(1)),
            sum(when(col("n_near") > 0, 1L).otherwise(0L))).head
        matched2 = agg.getLong(1)
        agg.getLong(0)
      }
      println(s"SCALE ed1hot: split-16 composite key — $matched2 matched " +
        s"(vs $matched; the delta is the documented cross-bucket recall trade)")
    }

    // --- round-11 event-analytics family at 10M events / 100k users:
    // scd1 / mk1 / ft1 / km1 / sea1 / nm1 / exp1 are all one-or-two
    // keyed exchanges + windows; the evidence rows are wall + maxTask
    // (no straggler despite 100-event user partitions) and km1's
    // horizon-bounded fold. ------------------------------------------
    if (want("events")) {
      val evPath = s"$outDir/events10m.parquet"
      // _SUCCESS, not bare existence: a previously interrupted write
      // must regenerate, not silently feed six sections partial data
      if (!new java.io.File(s"$evPath/_SUCCESS").exists()) {
        spark.range(10000000L).select(
            col("id").as("event_id"),
            // ~100 events/user over a 90-day horizon, second granularity
            pmod(xxhash64(col("id") * 31 + 5), lit(100000L)).as("user_id"),
            to_timestamp(lit(1704067200L)
              + pmod(xxhash64(col("id") * 17 + 3), lit(90L * 86400L))).as("ts"),
            // funnel-shaped mix: view 40%, click 30%, signup 20%,
            // purchase 10% (h in [0,10): >= thresholds walk DOWN the
            // funnel as h grows)
            element_at(array(lit("view"), lit("click"), lit("signup"), lit("purchase")),
              (pmod(xxhash64(col("id") * 7 + 1), lit(10L)) >= 4).cast("int")
                + (pmod(xxhash64(col("id") * 7 + 1), lit(10L)) >= 7).cast("int")
                + (pmod(xxhash64(col("id") * 7 + 1), lit(10L)) >= 9).cast("int") + 1)
              .as("event_type"),
            (pmod(xxhash64(col("id") * 3 + 11), lit(100000L)).cast("double") / 100.0)
              .as("value"),
            lit("{}").as("props"))
          .write.mode("overwrite").parquet(evPath)
      }
      val ev = spark.read.parquet(evPath)
      timed("scd1_scd2_10m") {
        graft.queries.TemporalQueries.scd2History(ev).count()
      }
      timed("mk1_transitions_10m") {
        graft.queries.TemporalQueries.transitionMatrix(ev).count()
      }
      timed("ft1_funnel_timing_10m") {
        graft.queries.TemporalQueries.funnelTiming(
          ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
          Seq("view", "click", "signup", "purchase")).count()
      }
      timed("km1_survival_10m") {
        graft.queries.TemporalQueries.kaplanMeier(ev, "view", "purchase").count()
      }
      val canonical = ev.select(col("user_id").cast("string").as("series_id"),
        col("ts"), col("event_id"), col("value"))
      timed("sea1_seasonal_10m") {
        graft.queries.TimeSeriesQueries.seasonalDecompose(canonical).count()
      }
      timed("nm1_feature_scale_10m") {
        graft.queries.TimeSeriesQueries.featureScale(canonical).count()
      }
    }

    // --- mb1 market basket at 2M basket rows (400k orders × 5 parts,
    // zipf-skewed 50k-part catalog): the claim under test is that
    // pair volume follows BASKET size (Σ C(5,2) = 4M pairs), never
    // |parts|², and that a hot part (popularity skew) cannot pin the
    // measure join (its count rides a broadcastable part-keyed
    // frame). ------------------------------------------------------
    if (want("basket")) {
      val rows = spark.range(2000000L).select(
        (col("id") / 5).cast("long").as("l_orderkey"),
        // zipf-ish: popular parts via squared-uniform collapse
        pmod(
          (pmod(xxhash64(col("id") * 37 + 11), lit(50000L))
            * pmod(xxhash64(col("id") * 53 + 29), lit(50000L))) / lit(50000L),
          lit(50000L)).cast("long").as("l_partkey"))
      rows.write.mode("overwrite").parquet(s"$outDir/basket.parquet")
      spark.read.parquet(s"$outDir/basket.parquet")
        .createOrReplaceTempView("lineitem_basket")
      var topLift = 0.0
      timed("mb1_basket_2m_rows") {
        // the PRODUCTION scoring core (Relational.basketScores), not a
        // copy — review rule: smokes must exercise the shipped path
        val scored = graft.queries.Relational.basketScores(
          spark.table("lineitem_basket")
            .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
          minSupport = 3L)
        val r = scored.agg(count(lit(1)), max(col("lift6"))).head
        topLift = r.getDouble(1)
        r.getLong(0)
      }
      println(f"SCALE mb1: max lift $topLift%.1f over support>=3 pairs " +
        "(pair volume = 400k x C(5,2), basket-bounded)")
      auditAndPrint("mb1_basket", graft.queries.Relational.basketScores(
        spark.table("lineitem_basket")
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
        minSupport = 3L))
    }

    // --- round-12 event-analytics family at 10M events / 100k users
    // (same generated frame as `events`): au1's expansion form (the
    // 35× user-day blow-up is the claim to measure), at1/fn2's
    // single-exchange windows, hw1's per-series kernel. -------------
    if (want("events12")) {
      val evPath = s"$outDir/events10m.parquet"
      require(new java.io.File(s"$evPath/_SUCCESS").exists(),
        "events12 needs the events section's 10M frame — run --run=events first (or together)")
      val ev = spark.read.parquet(evPath)
      timed("au1_active_users_10m") {
        graft.queries.TemporalQueries.activeUsers(ev).count()
      }
      timed("at1_last_touch_10m") {
        graft.queries.TemporalQueries.lastTouchAttribution(ev, "purchase").count()
      }
      timed("fn2_windowed_funnel_10m") {
        graft.queries.TemporalQueries.windowedFunnel(
          ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
          Seq("view", "click", "signup", "purchase"),
          windowUs = 7L * 86400L * 1000000L).count()
      }
      val canonical = ev.select(col("user_id").cast("string").as("series_id"),
        col("ts"), col("event_id"), col("value"))
      timed("hw1_holt_10m") {
        graft.operators.Ewma.holtLinear(canonical, alpha = 0.5, beta = 0.3).count()
      }
    }

    // --- jw1 blocked Jaro-Winkler at 1M records on the linkhot
    // frame's composite key (the measured ed1 hot-block lever):
    // distinct-name pair volume bounds the native-expression calls,
    // not record pairs. -------------------------------------------
    if (want("jw")) {
      require(new java.io.File(s"$outDir/linkhot_recs.parquet").exists(),
        "jw needs linkhot_recs.parquet — run --run=linkhot first (or together)")
      val r = spark.read.parquet(s"$outDir/linkhot_recs.parquet")
        .withColumn("block",
          concat(col("block"), lit("#"),
            pmod(xxhash64(element_at(split(col("name"), " "), 1)), lit(16L))))
      var matched = 0L
      timed("jw1_name_similarity_1m") {
        val agg = graft.dedup.Dedup.blockedNameSimilarity(r, minSim = 0.9)
          .agg(count(lit(1)),
            sum(when(col("n_sim") > 0, 1L).otherwise(0L))).head
        matched = agg.getLong(1)
        agg.getLong(0)
      }
      println(s"SCALE jw1: $matched distinct names with a >=0.9 match")
    }

    // --- bf1 bloom screen vs dc1 exact gram screen on the 1M-doc
    // corpus (benchmark = every 1000th doc): identical output by
    // construction; the comparison lines are wall and the
    // broadcast-state sizes (bitset bytes vs 8 B/gram set). ----------
    if (want("bloom")) {
      val d = graft.sources.Tables.read(spark, outDir, "documents")
      val isEval = col("doc_id") % 1000 === 7
      timed("dc1_exact_screen_1m") {
        graft.dedup.Dedup.decontaminate(d.where(!isEval), d.where(isEval)).count()
      }
      timed("bf1_bloom_screen_1m") {
        graft.dedup.Dedup.bloomDecontaminate(d.where(!isEval), d.where(isEval)).count()
      }
      val exact = graft.dedup.Dedup.decontaminate(d.where(!isEval), d.where(isEval))
      val bloom = graft.dedup.Dedup.bloomDecontaminate(d.where(!isEval), d.where(isEval))
      val diff = exact.as("a").join(bloom.as("b"), Seq("doc_id"))
        .where(col("a.n_hits") =!= col("b.n_hits")).count()
      val nBenchGrams = d.where(isEval).select(explode(array_distinct(
          call_function("graft_shingle_hashes", col("text"), lit(3)))).as("g"))
        .distinct().count()
      val bitsetBytes = ((nBenchGrams * 12 + 63) / 64) * 8
      println(s"SCALE bf1: output diff rows vs dc1 = $diff (must be 0); " +
        s"bench grams=$nBenchGrams, bitset=${bitsetBytes / 1024} KiB vs " +
        s"exact-set ${nBenchGrams * 8 / 1024} KiB + join-relation overhead")
    }
    // --- wmedian: wm1's cumulative-weight window at 10M rows --------------
    // (VERDICT r20 task 4) a running-sum window partitioned by the
    // 3-value group key would run as 3 straggler tasks. weightedMedian
    // writes it with no PARTITION BY, so above the rangerank gate it
    // must (a) plan as GlobalRankExec, range-partitioned on (group,
    // value) — machine-checked on the plan — and (b) produce output
    // EXACTLY equal to the gate-closed plain window (weights are
    // integer-valued doubles, so prefix+local running sums are
    // bit-identical to the sequential ones).
    if (want("wmedian")) {
      ensureParquet("wm10m.parquet")(
        spark.range(10000000L).select(
          concat(lit("g"), (col("id") % 3)).as("g"),
          (pmod(xxhash64(col("id") * 37L + 3L), lit(1000000L)).cast("double")
            / lit(100.0)).as("v"),
          (pmod(xxhash64(col("id") * 57L + 9L), lit(50L)) + lit(1L))
            .cast("double").as("wt")))
      val df = spark.read.parquet(s"$outDir/wm10m.parquet")
      def res(d: DataFrame): Array[(String, Double, Double)] =
        d.orderBy(col("g")).collect()
          .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      var dist: Array[(String, Double, Double)] = null
      var plain: Array[(String, Double, Double)] = null
      timed("wm1_range_10m") {
        // 10M-row stats clear the 32MB gate: the distributed path
        val d = graft.queries.Relational.weightedMedian(df, "g", "v", "wt")
        val plan = d.queryExecution.executedPlan.toString
        require(plan.contains("GlobalRank"),
          "gate-open weightedMedian must run the running sum through " +
            "GlobalRankExec:\n" + plan.take(3000))
        dist = res(d)
        dist.length.toLong
      }
      assertNoStraggler("wm1_range_10m")
      timed("wm1_plain_10m") {
        spark.conf.set(graft.plans.RangeRankRewrite.MinBytesKey, Long.MaxValue.toString)
        try {
          val d = graft.queries.Relational.weightedMedian(df, "g", "v", "wt")
          require(!d.queryExecution.executedPlan.toString.contains("GlobalRank"),
            "gate-closed weightedMedian must keep the plain window")
          plain = res(d)
        } finally spark.conf.unset(graft.plans.RangeRankRewrite.MinBytesKey)
        plain.length.toLong
      }
      require(dist.sameElements(plain),
        s"wmedian: range path diverged from plain: ${dist.mkString(",")} vs ${plain.mkString(",")}")
      println(s"SCALE wmedian: range vs plain = IDENTICAL (${dist.mkString("; ")})")
    }

    // --- rankrule: the AUTOMATIC promotion (RangeRankRewrite) -------------
    // w5/rfm1/gn1/qb1's scale path at 10M customers, through plain
    // user SQL: a 10M-row `ntile/rank/row_number OVER (ORDER BY ...)`
    // with no partition key must plan as GlobalRankExec (one range
    // exchange, no SinglePartition window) with values identical to
    // the plain window — exact integer-cent aggregates per decile, the
    // gn1 rank-weighted sum Σ i·cents of row_number, and rank/
    // dense_rank exactness proven ON ties (order by cents only:
    // ~10-row tie runs straddling any boundary sampler).
    if (want("rankrule")) {
      graft.functions.GraftFunctions.register(spark)
      ensureCust10m()
      val per = spark.read.parquet(s"$outDir/cust10m.parquet")
        .withColumn("cents", floor(col("spend") * lit(100) + lit(0.5)).cast("long"))
      per.createOrReplaceTempView("cust10m")
      def tileAgg(sql: String): Array[(Int, Long, Long)] =
        spark.sql(sql).groupBy(col("q"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
          .orderBy(col("q"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val rankSql =
        """SELECT cents, k,
          |  ntile(10)    OVER (ORDER BY spend DESC, k) AS q,
          |  rank()       OVER (ORDER BY cents) AS rk,
          |  dense_rank() OVER (ORDER BY cents) AS dr,
          |  row_number() OVER (ORDER BY cents, k) AS i
          |FROM cust10m""".stripMargin
      var auto: Array[(Int, Long, Long)] = null
      var rkAuto: Array[(Long, Long, Long)] = null
      var sixAuto = BigDecimal(0)
      // gn1's rank-weighted sum: decimal BEFORE the multiply
      def six(df: DataFrame): BigDecimal = BigDecimal(df.agg(sum(
        col("i").cast("decimal(38,0)") * col("cents").cast("decimal(38,0)")))
        .head.getDecimal(0))
      def rkAgg(df: DataFrame): Array[(Long, Long, Long)] =
        df.groupBy(col("cents"))
          .agg(min(col("rk")).cast("long").as("r"), max(col("dr")).cast("long").as("d"))
          .orderBy(col("cents"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      var shape: DataFrame = null
      timed("rankrule_sql_10m") {
        val df = spark.sql(rankSql)
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("GlobalRank"),
          "automatic rewrite did not fire on user SQL:\n" + plan.take(3000))
        require(!plan.contains("SinglePartition"),
          "rewritten plan still contains a SinglePartition stage:\n" + plan.take(3000))
        shape = df
        auto = tileAgg(rankSql)
        rkAuto = rkAgg(df)
        sixAuto = six(df)
        auto.map(_._2).sum
      }
      var plainT: Array[(Int, Long, Long)] = null
      var rkPlain: Array[(Long, Long, Long)] = null
      var sixPlain = BigDecimal(0)
      timed("rankrule_plainwin_10m") {
        spark.conf.set(graft.plans.RangeRankRewrite.MinBytesKey, Long.MaxValue.toString)
        try {
          val df = spark.sql(rankSql)
          require(!df.queryExecution.executedPlan.toString.contains("GlobalRank"))
          plainT = tileAgg(rankSql)
          rkPlain = rkAgg(df)
          sixPlain = six(df)
        } finally spark.conf.unset(graft.plans.RangeRankRewrite.MinBytesKey)
        plainT.map(_._2).sum
      }
      println(s"SCALE rankrule: decile agg auto vs plain = " +
        s"${if (auto.sameElements(plainT)) "IDENTICAL" else "DIVERGED"}")
      println(s"SCALE rankrule: rank/dense_rank on ties auto vs plain = " +
        s"${if (rkAuto.sameElements(rkPlain)) "IDENTICAL" else "DIVERGED"}")
      println(s"SCALE rankrule: gn1 rank-weighted sum auto=$sixAuto " +
        s"plain=$sixPlain ${if (sixAuto == sixPlain) "IDENTICAL" else "DIVERGED"}")
      println("SCALE rankrule: executed plan (head):")
      println(shape.queryExecution.executedPlan.toString.linesIterator
        .map("SCALE   " + _.take(100)).take(14).mkString("\n"))
      auditAndPrint("rankrule", shape)
    }
    // --- aggrule: the AUTOMATIC running-aggregate promotion (gr2) --------
    // rankrule's claims for the round-16 extension: a 10M-row
    // `SUM/COUNT/MIN/MAX(x) OVER (ORDER BY ...)` with no partition key
    // through plain user SQL must plan as GlobalRankExec (one range
    // exchange, no SinglePartition window) with values identical to
    // the plain window — compared on exact integers, with ties on
    // cents (~10-row peer runs) exercising the RANGE-frame semantics
    // across range-partition boundaries. Also asserts the
    // low-cardinality degrade warning fires at 10M rows on a 3-value
    // order key and stays quiet on the real one.
    if (want("aggrule")) {
      graft.functions.GraftFunctions.register(spark)
      ensureCust10m()
      spark.read.parquet(s"$outDir/cust10m.parquet")
        .withColumn("cents", floor(col("spend") * lit(100) + lit(0.5)).cast("long"))
        .createOrReplaceTempView("cust10m")
      val aggSql =
        """SELECT cents,
          |  sum(cents) OVER (ORDER BY cents) AS rs,
          |  count(*)   OVER (ORDER BY cents) AS rc,
          |  min(k)     OVER (ORDER BY cents) AS rmn,
          |  max(k)     OVER (ORDER BY cents) AS rmx
          |FROM cust10m""".stripMargin
      def chk(df: DataFrame): (java.math.BigDecimal, java.math.BigDecimal, Long) = {
        val r = df.agg(
          sum(col("rs").cast("decimal(38,0)")).as("a"),
          sum((col("rc") + col("rmx") - col("rmn")).cast("decimal(38,0)")).as("b"),
          count(lit(1)).as("n")).head
        (r.getDecimal(0), r.getDecimal(1), r.getLong(2))
      }
      var auto: (java.math.BigDecimal, java.math.BigDecimal, Long) = null
      var shape: DataFrame = null
      timed("aggrule_sql_10m") {
        val df = spark.sql(aggSql)
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("GlobalRank"),
          "automatic running-aggregate rewrite did not fire:\n" + plan.take(3000))
        require(!plan.contains("SinglePartition"),
          "rewritten plan still contains a SinglePartition stage:\n" + plan.take(3000))
        shape = df
        auto = chk(df)
        auto._3
      }
      var plain: (java.math.BigDecimal, java.math.BigDecimal, Long) = null
      timed("aggrule_plainwin_10m") {
        spark.conf.set(graft.plans.RangeRankRewrite.MinBytesKey, Long.MaxValue.toString)
        try {
          val df = spark.sql(aggSql)
          require(!df.queryExecution.executedPlan.toString.contains("GlobalRank"))
          plain = chk(df)
        } finally spark.conf.unset(graft.plans.RangeRankRewrite.MinBytesKey)
        plain._3
      }
      println(s"SCALE aggrule: running sum/count/min/max auto vs plain = " +
        s"${if (auto == plain) "IDENTICAL" else s"DIVERGED $auto vs $plain"}")
      // offsets (round-16 extension): lag/lead at 10M through user
      // SQL — boundary slices are the only cross-partition state
      val offSql =
        """SELECT cents,
          |  cents - lag(cents, 1) OVER (ORDER BY cents, k) AS diff1,
          |  lead(cents, 3, -1)    OVER (ORDER BY cents, k) AS next3
          |FROM cust10m""".stripMargin
      def offChk(df: DataFrame): (java.math.BigDecimal, java.math.BigDecimal, Long) = {
        val r = df.agg(
          sum(col("diff1").cast("decimal(38,0)")).as("a"),
          sum(col("next3").cast("decimal(38,0)")).as("b"),
          count(lit(1)).as("n")).head
        (r.getDecimal(0), r.getDecimal(1), r.getLong(2))
      }
      var offAuto: (java.math.BigDecimal, java.math.BigDecimal, Long) = null
      timed("offrule_sql_10m") {
        val df = spark.sql(offSql)
        val p = df.queryExecution.executedPlan.toString
        require(p.contains("GlobalRank") && !p.contains("SinglePartition"),
          "offset rewrite did not fire:\n" + p.take(3000))
        offAuto = offChk(df)
        offAuto._3
      }
      var offPlain: (java.math.BigDecimal, java.math.BigDecimal, Long) = null
      timed("offrule_plainwin_10m") {
        spark.conf.set(graft.plans.RangeRankRewrite.MinBytesKey, Long.MaxValue.toString)
        try {
          val df = spark.sql(offSql)
          require(!df.queryExecution.executedPlan.toString.contains("GlobalRank"))
          offPlain = offChk(df)
        } finally spark.conf.unset(graft.plans.RangeRankRewrite.MinBytesKey)
        offPlain._3
      }
      println(s"SCALE aggrule: lag/lead auto vs plain = " +
        s"${if (offAuto == offPlain) "IDENTICAL" else s"DIVERGED $offAuto vs $offPlain"}")
      println("SCALE aggrule: executed plan (head):")
      println(shape.queryExecution.executedPlan.toString.linesIterator
        .map("SCALE   " + _.take(100)).take(14).mkString("\n"))
      auditAndPrint("aggrule", shape)
      // degrade visibility: 3 distinct order keys over 10M rows must
      // warn; the real (high-cardinality) order must not
      val before = graft.plans.GlobalRankExec.degradeWarnCount.get()
      spark.sql("SELECT sum(rk) FROM (SELECT rank() OVER (ORDER BY cents % 3) AS rk FROM cust10m)").head
      val fired = graft.plans.GlobalRankExec.degradeWarnCount.get() - before
      require(fired > 0, "degrade warning did not fire on a 3-value order key at 10M rows")
      println(s"SCALE aggrule: low-cardinality degrade warning fired ($fired) on a 3-value key; " +
        s"quiet on the real order (none counted during the timed runs above)")
    }

    // --- repair: the opt-in duplicate-aggregate unification at 10M -------
    // The PlanAuditRepair claim, measured: a join of two divergently
    // pruned aggregates over the same 10M-row table scans the source
    // TWICE with the flag off (ReuseExchange defeated by pruning) and
    // ONCE with it on (union aggregates canonicalize equal), with
    // identical results. The saving is the shared scan + partial
    // aggregate + shuffle write — the dominant cost of this shape.
    if (want("repair")) {
      graft.functions.GraftFunctions.register(spark)
      ensureRepair10m()
      spark.read.parquet(s"$outDir/repair10m.parquet")
        .createOrReplaceTempView("repair10m")
      val repairSql =
        """SELECT CAST(count(*) AS BIGINT) AS n,
          |  SUM(CAST(a.s * b.m AS DECIMAL(38,0))) AS chk
          |FROM (SELECT g, sum(x) AS s FROM repair10m GROUP BY g) a
          |JOIN (SELECT g, max(y) AS m, count(*) AS c FROM repair10m GROUP BY g) b
          |  ON a.g = b.g""".stripMargin
      // PlanAudit.fileScanCount + collect(), not head(): head spawns
      // its OWN QueryExecution, so the captured plan would be an
      // unexecuted snapshot — under AQE exchange reuse only shows in
      // the EXECUTED final plan
      def scans(df: DataFrame): Int = PlanAudit.fileScanCount(df)
      var offRow: org.apache.spark.sql.Row = null
      var offScans = -1
      timed("repair_off_10m") {
        val df = spark.sql(repairSql)
        offRow = df.collect()(0)
        offScans = scans(df)
        offRow.getLong(0)
      }
      var onRow: org.apache.spark.sql.Row = null
      var onScans = -1
      timed("repair_on_10m") {
        spark.conf.set(graft.plans.PlanAuditRepair.FlagKey, "true")
        try {
          val df = spark.sql(repairSql)
          require(df.queryExecution.optimizedPlan.toString.contains("RepairProject"),
            "repair did not fire:\n" + df.queryExecution.optimizedPlan.toString.take(2000))
          onRow = df.collect()(0)
          onScans = scans(df)
        } finally spark.conf.unset(graft.plans.PlanAuditRepair.FlagKey)
        onRow.getLong(0)
      }
      println(s"SCALE repair: scans off=$offScans on=$onScans; results " +
        s"${if (offRow == onRow) s"IDENTICAL ($offRow)" else s"DIVERGED $offRow vs $onRow"}")
    }

    // --- hotrun: the spillable tie-run buffer at an 8M hot peer run ------
    // (VERDICT r16 items 1+6) GlobalRankExec's RANGE path must absorb a
    // whole tie run before any of its rows emit; the buffer is
    // WindowExec's own ExternalAppendOnlyUnsafeRowArray, so a hot key
    // (8M of 10M rows sharing one ORDER BY value — the NULL-date /
    // default-enum shape) SPILLS past the window-buffer threshold and
    // finishes with bounded task memory instead of OOMing. Claims
    // measured here: (a) the big-tie-run warning fires, (b) real spill
    // bytes are recorded at a lowered spill threshold, (c) values are
    // identical to the plain single-partition window under the SAME
    // spill conf, (d) peakTaskMem stays bounded (the buffer holds
    // spill-threshold rows in memory, not the 8M-row run).
    if (want("hotrun")) {
      graft.functions.GraftFunctions.register(spark)
      ensureCust10m()
      spark.read.parquet(s"$outDir/cust10m.parquet")
        .withColumn("cents", floor(col("spend") * lit(100) + lit(0.5)).cast("long"))
        .withColumn("hk", when(col("k") < 8000000L, lit(0L)).otherwise(col("cents")))
        .createOrReplaceTempView("hot10m")
      val hotSql =
        """SELECT hk, sum(cents) OVER (ORDER BY hk) AS rs FROM hot10m"""
      def hotChk(df: DataFrame): (java.math.BigDecimal, Long) = {
        val r = df.agg(sum(col("rs").cast("decimal(38,0)")).as("a"),
          count(lit(1)).as("n")).head
        (r.getDecimal(0), r.getLong(1))
      }
      // lowered spill threshold: prove the DISK path, not just survival
      // at a 48g heap (production executors won't have the run in heap)
      spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "1000000")
      try {
        var auto: (java.math.BigDecimal, Long) = null
        val warnBefore = graft.plans.GlobalRankExec.bigRunWarnCount.get()
        val spillBefore = graft.plans.GlobalRankExec.tieRunSpillCount.get()
        timed("hotrun_sql_10m") {
          val df = spark.sql(hotSql)
          val p = df.queryExecution.executedPlan.toString
          require(p.contains("GlobalRank") && !p.contains("SinglePartition"),
            "hot-run rewrite did not fire:\n" + p.take(3000))
          auto = hotChk(df)
          auto._2
        }
        require(graft.plans.GlobalRankExec.bigRunWarnCount.get() > warnBefore,
          "big-tie-run warning did not fire on an 8M-row peer run")
        require(graft.plans.GlobalRankExec.tieRunSpillCount.get() > spillBefore,
          "tie-run buffer did not spill at a 1M-row spill threshold")
        var plain: (java.math.BigDecimal, Long) = null
        timed("hotrun_plainwin_10m") {
          spark.conf.set(graft.plans.RangeRankRewrite.MinBytesKey, Long.MaxValue.toString)
          try {
            val df = spark.sql(hotSql)
            require(!df.queryExecution.executedPlan.toString.contains("GlobalRank"))
            plain = hotChk(df)
          } finally spark.conf.unset(graft.plans.RangeRankRewrite.MinBytesKey)
          plain._2
        }
        println(s"SCALE hotrun: 8M-row tie run, spilled run buffer, auto vs plain = " +
          s"${if (auto == plain) "IDENTICAL" else s"DIVERGED $auto vs $plain"}")
      } finally spark.conf.unset("spark.sql.windowExec.buffer.spill.threshold")
    }

    // --- winfams: the round-17 window families at 10M --------------------
    // (VERDICT r16 items 2/3/5 done-criteria) Bounded ROWS frames (gr5),
    // Welford stddev/var (gr6), decimal running/sliding sums (gr7) and
    // nth_value (gr8) through the AUTOMATIC rewrite at 10M rows, each
    // value-checked against the plain single-partition window. The
    // ORDER BY composes cents with k (total order) so every family's
    // output is deterministic; checksums quantize doubles to 6dp before
    // the decimal sum (the engine and the plain window share one
    // association order for bounded frames — oldest-first replay — and
    // Welford-vs-sequential differs at the ulp, hence the rounding).
    if (want("winfams")) {
      graft.functions.GraftFunctions.register(spark)
      ensureCust10m()
      spark.read.parquet(s"$outDir/cust10m.parquet")
        .withColumn("cents", floor(col("spend") * lit(100) + lit(0.5)).cast("long"))
        .withColumn("rev", (col("cents").cast("double") / 100.0))
        .withColumn("revd", col("rev").cast("decimal(18,4)"))
        .createOrReplaceTempView("wf10m")
      val famSql =
        """SELECT k,
          |  SUM(rev) OVER (ORDER BY cents, k
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
          |  AVG(rev) OVER (ORDER BY cents, k
          |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS ma30,
          |  STDDEV_SAMP(rev / 1000.0) OVER (ORDER BY cents, k) AS sd,
          |  VAR_POP(rev / 1000.0)     OVER (ORDER BY cents, k) AS vp,
          |  CAST(SUM(revd) OVER (ORDER BY cents, k) AS DECIMAL(38,4)) AS cum_dec,
          |  AVG(revd) OVER (ORDER BY cents, k) AS avg_dec,
          |  nth_value(cents, 1000) OVER (ORDER BY cents, k) AS nth1k
          |FROM wf10m""".stripMargin
      // timed = COMPUTE only (agg consume touching every output
      // column); the parquet dumps for the row-level comparison happen
      // once, untimed, below
      def consumeAll(df: DataFrame): Long =
        df.agg(sum(col("ma7")), sum(col("ma30")), sum(col("sd")), sum(col("vp")),
          sum(col("cum_dec")), sum(col("avg_dec")), sum(col("nth1k")),
          count(lit(1)).as("n"))
          .head.getLong(7)
      timed("winfams_sql_10m") {
        val df = spark.sql(famSql)
        val p = df.queryExecution.executedPlan.toString
        require(p.contains("GlobalRank") && !p.contains("SinglePartition"),
          "round-17 window families did not rewrite:\n" + p.take(3000))
        consumeAll(df)
      }
      spark.sql(famSql).write.mode("overwrite")
        .parquet(s"$outDir/winfams_auto.parquet")
      spark.conf.set(graft.plans.RangeRankRewrite.MinBytesKey, Long.MaxValue.toString)
      try {
        timed("winfams_plainwin_10m") {
          val df = spark.sql(famSql)
          require(!df.queryExecution.executedPlan.toString.contains("GlobalRank"))
          consumeAll(df)
        }
        spark.sql(famSql).write.mode("overwrite")
          .parquet(s"$outDir/winfams_plain.parquet")
      } finally spark.conf.unset(graft.plans.RangeRankRewrite.MinBytesKey)
      // per-column comparison, per family semantics: bounded frames
      // replay oldest-first on BOTH paths (bit-identical doubles
      // required), decimal sums are exact space, nth is value copies —
      // exact equality for all of those. The Welford family carries
      // the documented merge-order ulp class (Chan prefix-combine vs
      // one sequential pass), so it gets a 1e-9 ABS tolerance instead
      // of a blanket checksum that would mask an exact-family bug (a
      // first cut here used one ROUND(...,6) checksum over everything
      // and "diverged" by two half-way rounding flips in 4e17 — all
      // from the variance columns).
      val a = spark.read.parquet(s"$outDir/winfams_auto.parquet").alias("a")
      val p = spark.read.parquet(s"$outDir/winfams_plain.parquet").alias("p")
      val cmp = a.join(p, "k").agg(
        sum(when(col("a.ma7") <=> col("p.ma7") &&
          col("a.ma30") <=> col("p.ma30") &&
          col("a.cum_dec") <=> col("p.cum_dec") &&
          // the composed avg is EXACT-family too: both paths divide
          // the identical exact sum/count through the identical
          // Average.evaluateExpression
          col("a.avg_dec") <=> col("p.avg_dec") &&
          col("a.nth1k") <=> col("p.nth1k"), 0).otherwise(1)).as("exact_bad"),
        max(abs(col("a.sd") - col("p.sd"))).as("sd_maxdiff"),
        max(abs(col("a.vp") - col("p.vp"))).as("vp_maxdiff"),
        count(lit(1)).as("n")).head
      require(cmp.getLong(3) == 10000000L, s"join lost rows: ${cmp.getLong(3)}")
      require(cmp.getLong(0) == 0L,
        s"exact families diverged on ${cmp.getLong(0)} rows")
      require(cmp.getDouble(1) < 1e-9 && cmp.getDouble(2) < 1e-9,
        s"variance family beyond ulp class: sd=${cmp.getDouble(1)} vp=${cmp.getDouble(2)}")
      println(f"SCALE winfams: moving/decimal/nth EXACT-equal on 10M rows; " +
        f"Welford family max abs diff sd=${cmp.getDouble(1)}%.2e " +
        f"vp=${cmp.getDouble(2)}%.2e (merge-order ulp class, tolerance 1e-9)")
    }

    // --- ignorenulls: IGNORE NULLS lag/lead through the rewrite at 10M ---
    // (VERDICT r17 item 1 done-criterion) The forward-fill idiom —
    // lag/lead(x, k) IGNORE NULLS over a global ORDER BY — on a sparse
    // column (non-null on 3 of every 997 rows: ~30k non-nulls, null
    // runs ~994 long, so every range boundary sits inside a null run
    // and lead-nn rows pend ~a null run deep), value-checked
    // EXACT-equal against the plain single-partition window (offsets
    // copy input values bit-for-bit — no ulp class anywhere).
    if (want("ignorenulls")) {
      graft.functions.GraftFunctions.register(spark)
      ensureCust10m()
      spark.read.parquet(s"$outDir/cust10m.parquet")
        .withColumn("sv", when(col("k") % 997L < 3L, col("spend")))
        .createOrReplaceTempView("nn10m")
      val nnSql =
        """SELECT k,
          |  lag(sv, 1) IGNORE NULLS        OVER (ORDER BY k) AS ff,
          |  lag(sv, 5, -1.0) IGNORE NULLS  OVER (ORDER BY k) AS l5,
          |  lead(sv, 1) IGNORE NULLS       OVER (ORDER BY k) AS n1,
          |  lead(sv, 3, -1.0) IGNORE NULLS OVER (ORDER BY k) AS n3
          |FROM nn10m""".stripMargin
      def consumeNn(df: DataFrame): Long =
        df.agg(sum(col("ff")), sum(col("l5")), sum(col("n1")), sum(col("n3")),
          count(lit(1)).as("n")).head.getLong(4)
      timed("ignorenulls_sql_10m") {
        val df = spark.sql(nnSql)
        val p = df.queryExecution.executedPlan.toString
        require(p.contains("GlobalRank") && !p.contains("SinglePartition"),
          "IGNORE NULLS offsets did not rewrite:\n" + p.take(3000))
        consumeNn(df)
      }
      spark.sql(nnSql).write.mode("overwrite")
        .parquet(s"$outDir/ignorenulls_auto.parquet")
      spark.conf.set(graft.plans.RangeRankRewrite.MinBytesKey, Long.MaxValue.toString)
      try {
        timed("ignorenulls_plainwin_10m") {
          val df = spark.sql(nnSql)
          require(!df.queryExecution.executedPlan.toString.contains("GlobalRank"))
          consumeNn(df)
        }
        spark.sql(nnSql).write.mode("overwrite")
          .parquet(s"$outDir/ignorenulls_plain.parquet")
      } finally spark.conf.unset(graft.plans.RangeRankRewrite.MinBytesKey)
      val a = spark.read.parquet(s"$outDir/ignorenulls_auto.parquet").alias("a")
      val p = spark.read.parquet(s"$outDir/ignorenulls_plain.parquet").alias("p")
      val cmp = a.join(p, "k").agg(
        sum(when(col("a.ff") <=> col("p.ff") && col("a.l5") <=> col("p.l5") &&
          col("a.n1") <=> col("p.n1") && col("a.n3") <=> col("p.n3"), 0)
          .otherwise(1)).as("bad"),
        count(lit(1)).as("n")).head
      require(cmp.getLong(1) == 10000000L, s"join lost rows: ${cmp.getLong(1)}")
      require(cmp.getLong(0) == 0L,
        s"IGNORE NULLS offsets diverged on ${cmp.getLong(0)} rows")
      println("SCALE ignorenulls: lag/lead IGNORE NULLS EXACT-equal on 10M rows")
    }

    // --- rangewin: value-bounded RANGE frames at 10M ----------------------
    // (VERDICT r17 item 3 done-criterion) RANGE BETWEEN 90 PRECEDING
    // AND CURRENT ROW over a long key with 3-row tie runs (peer
    // absorption exercised ~3.3M times): exact families (long sum,
    // count, min, max) value-checked EXACT-equal against the plain
    // single-partition window; the double avg carries the documented
    // per-run-subtotal ulp class (1e-9 tolerance). The plain window
    // recomputes each frame move over its buffer (O(n·w) single task);
    // the rewrite pays O(runs · window-entries) spread over 32 tasks.
    if (want("rangewin")) {
      graft.functions.GraftFunctions.register(spark)
      ensureCust10m()
      spark.read.parquet(s"$outDir/cust10m.parquet")
        .withColumn("key", (col("k") / 3L).cast("long"))
        .withColumn("cents", floor(col("spend") * lit(100) + lit(0.5)).cast("long"))
        .createOrReplaceTempView("rw10m")
      val rwSql =
        """SELECT k,
          |  SUM(cents) OVER (ORDER BY key RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS s90,
          |  COUNT(*)   OVER (ORDER BY key RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS c90,
          |  MIN(cents) OVER (ORDER BY key RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS mn90,
          |  MAX(cents) OVER (ORDER BY key RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS mx90,
          |  AVG(cents) OVER (ORDER BY key RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS a30
          |FROM rw10m""".stripMargin
      def consumeRw(df: DataFrame): Long =
        df.agg(sum(col("s90")), sum(col("c90")), sum(col("mn90")), sum(col("mx90")),
          sum(col("a30")), count(lit(1)).as("n")).head.getLong(5)
      timed("rangewin_sql_10m") {
        val df = spark.sql(rwSql)
        val p = df.queryExecution.executedPlan.toString
        require(p.contains("GlobalRank") && !p.contains("SinglePartition"),
          "RANGE value frames did not rewrite:\n" + p.take(3000))
        consumeRw(df)
      }
      spark.sql(rwSql).write.mode("overwrite")
        .parquet(s"$outDir/rangewin_auto.parquet")
      spark.conf.set(graft.plans.RangeRankRewrite.MinBytesKey, Long.MaxValue.toString)
      try {
        timed("rangewin_plainwin_10m") {
          val df = spark.sql(rwSql)
          require(!df.queryExecution.executedPlan.toString.contains("GlobalRank"))
          consumeRw(df)
        }
        spark.sql(rwSql).write.mode("overwrite")
          .parquet(s"$outDir/rangewin_plain.parquet")
      } finally spark.conf.unset(graft.plans.RangeRankRewrite.MinBytesKey)
      val a = spark.read.parquet(s"$outDir/rangewin_auto.parquet").alias("a")
      val p = spark.read.parquet(s"$outDir/rangewin_plain.parquet").alias("p")
      val cmp = a.join(p, "k").agg(
        sum(when(col("a.s90") <=> col("p.s90") && col("a.c90") <=> col("p.c90") &&
          col("a.mn90") <=> col("p.mn90") && col("a.mx90") <=> col("p.mx90"), 0)
          .otherwise(1)).as("exact_bad"),
        max(abs(col("a.a30") - col("p.a30"))).as("avg_maxdiff"),
        count(lit(1)).as("n")).head
      require(cmp.getLong(2) == 10000000L, s"join lost rows: ${cmp.getLong(2)}")
      require(cmp.getLong(0) == 0L,
        s"RANGE exact families diverged on ${cmp.getLong(0)} rows")
      require(cmp.getDouble(1) < 1e-9,
        s"RANGE avg beyond ulp class: ${cmp.getDouble(1)}")
      println(f"SCALE rangewin: sum/count/min/max EXACT-equal on 10M rows; " +
        f"avg max abs diff ${cmp.getDouble(1)}%.2e (per-run-subtotal ulp class)")
    }

    // --- ymrange: year-month RANGE frames at 10M (gr13) -------------------
    // Calendar-bounded trailing aggregates over a DATE key with
    // 500-row tie runs across ~54 years of dates (every month-length
    // and leap transition in range): exact families value-checked
    // EXACT-equal against the plain single-partition window; the
    // 3-month double avg carries the per-run-subtotal ulp class. The
    // frame bound is evaluated per run via DateTimeUtils.dateAddMonths
    // (the plain window's own arithmetic — MonthsRangeDelta).
    if (want("ymrange")) {
      graft.functions.GraftFunctions.register(spark)
      ensureCust10m()
      spark.read.parquet(s"$outDir/cust10m.parquet")
        .withColumn("d", expr("date_add(date'2000-01-01', cast(pmod(k, 20000) AS int))"))
        .withColumn("cents", floor(col("spend") * lit(100) + lit(0.5)).cast("long"))
        .createOrReplaceTempView("ym10m")
      val ymSql =
        """SELECT k,
          |  SUM(cents) OVER (ORDER BY d RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS s1m,
          |  COUNT(*)   OVER (ORDER BY d RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS c1m,
          |  MIN(cents) OVER (ORDER BY d RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS mn1m,
          |  MAX(cents) OVER (ORDER BY d RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS mx1m,
          |  AVG(cents) OVER (ORDER BY d RANGE BETWEEN INTERVAL 3 MONTH PRECEDING AND CURRENT ROW) AS a3m
          |FROM ym10m""".stripMargin
      def consumeYm(df: DataFrame): Long =
        df.agg(sum(col("s1m")), sum(col("c1m")), sum(col("mn1m")), sum(col("mx1m")),
          sum(col("a3m")), count(lit(1)).as("n")).head.getLong(5)
      timed("ymrange_sql_10m") {
        val df = spark.sql(ymSql)
        val p = df.queryExecution.executedPlan.toString
        require(p.contains("GlobalRank") && !p.contains("SinglePartition"),
          "year-month RANGE frames did not rewrite:\n" + p.take(3000))
        consumeYm(df)
      }
      spark.sql(ymSql).write.mode("overwrite")
        .parquet(s"$outDir/ymrange_auto.parquet")
      spark.conf.set(graft.plans.RangeRankRewrite.MinBytesKey, Long.MaxValue.toString)
      try {
        timed("ymrange_plainwin_10m") {
          val df = spark.sql(ymSql)
          require(!df.queryExecution.executedPlan.toString.contains("GlobalRank"))
          consumeYm(df)
        }
        spark.sql(ymSql).write.mode("overwrite")
          .parquet(s"$outDir/ymrange_plain.parquet")
      } finally spark.conf.unset(graft.plans.RangeRankRewrite.MinBytesKey)
      val a = spark.read.parquet(s"$outDir/ymrange_auto.parquet").alias("a")
      val p = spark.read.parquet(s"$outDir/ymrange_plain.parquet").alias("p")
      val cmp = a.join(p, "k").agg(
        sum(when(col("a.s1m") <=> col("p.s1m") && col("a.c1m") <=> col("p.c1m") &&
          col("a.mn1m") <=> col("p.mn1m") && col("a.mx1m") <=> col("p.mx1m"), 0)
          .otherwise(1)).as("exact_bad"),
        max(abs(col("a.a3m") - col("p.a3m"))).as("avg_maxdiff"),
        count(lit(1)).as("n")).head
      require(cmp.getLong(2) == 10000000L, s"join lost rows: ${cmp.getLong(2)}")
      require(cmp.getLong(0) == 0L,
        s"year-month RANGE exact families diverged on ${cmp.getLong(0)} rows")
      require(cmp.getDouble(1) < 1e-9,
        s"year-month RANGE avg beyond ulp class: ${cmp.getDouble(1)}")
      println(f"SCALE ymrange: sum/count/min/max EXACT-equal on 10M rows; " +
        f"avg max abs diff ${cmp.getDouble(1)}%.2e (per-run-subtotal ulp class)")
    }

    // Shared by the graph10m and ccstars sections: ONE generator for
    // the 10M-edge + 100k-spoke-hub graph (ensureParquet stamps by
    // FILE NAME, so a second diverging generator copy could silently
    // feed the other section — review r19) and one straggler
    // predicate: every stage with >= 8 tasks and >= 3 s of total work
    // must keep max-task <= 10x mean-task.
    def ensureGraph10m(): Unit =
      ensureParquet("graph10m.parquet")(
        spark.range(9900000L).select(
          pmod(xxhash64(col("id") * 31L + 7L), lit(5000000L)).as("doc_a"),
          pmod(xxhash64(col("id") * 131L + 11L), lit(5000000L)).as("doc_b"))
        .unionByName(spark.range(100000L).select(
          lit(0L).as("doc_a"), (col("id") + 5000000L).as("doc_b"))))
    def assertNoStraggler(label: String): Unit = {
      import scala.jdk.CollectionConverters._
      val bad = peaks.stages.asScala.collect {
        case (id, (mx, cnt, sum)) if cnt >= 8 && sum >= 3000 && mx > 10 * (sum / cnt) =>
          f"stage$id max=${mx / 1000.0}%.1fs mean=${sum / cnt / 1000.0}%.1fs n=$cnt"
      }
      require(bad.isEmpty, s"$label stragglers under hub skew: ${bad.mkString("; ")}")
      println(s"SCALE $label straggler-check: clean (hub key 100k-wide)")
    }

    // --- graph10m: the iterative graph family at 10M edges + hub skew ----
    // (VERDICT r17 item 4) cc1/lp1/kc1/bfs1/pr1 are the five most
    // expensive bench keys and the ones round-17's bench ambiguity
    // landed on; their scale claims rested on 1M-edge smokes. This
    // section runs the family at 10M edges over 5M nodes with a
    // 100K-SPOKE HUB (node 0 — a single join key carrying 100k edges,
    // the adversarial skew shape) under the CLUSTER posture
    // (checkpoint materialize mode + AQE skew-join, GraftConf.cluster),
    // and ASSERTS no straggler: every stage with >= 8 tasks and >= 3 s
    // of total work must keep max-task <= 10x mean-task.
    if (want("graph10m")) {
      graft.functions.GraftFunctions.register(spark)
      ensureGraph10m()
      val pairs = spark.read.parquet(s"$outDir/graph10m.parquet")
      val docs = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val ckpt = s"$outDir/graph10m_ckpt"
      spark.sparkContext.setCheckpointDir(ckpt)
      val prevMode = spark.conf.getOption(graft.Materialize.ModeKey)
      spark.conf.set(graft.Materialize.ModeKey, "checkpoint")
      try {
        timed("graph10m_cc1", runs = 1) {
          val c = graft.dedup.Dedup.dedupClusters(docs, pairs)
          val r = c.agg(countDistinct(col("cluster_id")).as("k"),
            count(lit(1)).as("n")).head
          println(s"SCALE graph10m_cc1 clusters=${r.getLong(0)} nodes=${r.getLong(1)}")
          r.getLong(1)
        }
        assertNoStraggler("graph10m_cc1")
        timed("graph10m_lp1", runs = 1) {
          graft.dedup.Dedup.labelPropagation(pairs, rounds = 3).count()
        }
        assertNoStraggler("graph10m_lp1")
        timed("graph10m_kc1", runs = 1) {
          graft.dedup.Dedup.kCore(pairs, k = 2, rounds = 3).where(col("in_core")).count()
        }
        assertNoStraggler("graph10m_kc1")
        // (VERDICT r20 task 7) machine-check the pin CONTRACT at 10M,
        // not just the timing: a keyed join over a persistPartitioned
        // side must plan with strictly fewer exchanges than the same
        // join over a plain barrier — the pinned side's
        // InMemoryTableScan advertises hash partitioning + sort
        // order, so EnsureRequirements inserts no Exchange/Sort above
        // it. Static plan property (no execution needed).
        locally {
          val m = pairs.select(col("doc_a").as("id"), col("doc_b"))
          val other = pairs.select(col("doc_a").as("id")).distinct()
          // AQE off for the probe: its plan wrapper is a leaf node, so
          // the tree walk below could not see the exchanges (and a
          // string count would also match the pin's own repartition
          // printed INSIDE the InMemoryRelation text)
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          try {
            def exchanges(side: DataFrame): Int =
              side.join(other, Seq("id"), "left_semi")
                .queryExecution.executedPlan.collect {
                  case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
                }.length
            val nPin = exchanges(graft.Materialize.persistPartitioned(m, "id"))
            val nPlain = exchanges(graft.Materialize.barrier(m))
            require(nPin < nPlain,
              s"pin contract violated: pinned-side join must elide its " +
                s"exchange (pinned=$nPin plain=$nPlain)")
            println(s"SCALE graph10m pin-contract: join exchanges " +
              s"pinned=$nPin < plain=$nPlain — pinned side elides its shuffle")
          } finally {
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            DevSession.clearPersisted(spark)
          }
        }
        timed("graph10m_bfs1", runs = 1) {
          graft.dedup.Dedup.bfsDistance(pairs, _ === 0L, maxHops = 3)
            .where(col("dist").isNotNull).count()
        }
        assertNoStraggler("graph10m_bfs1")
        timed("graph10m_pr1", runs = 1) {
          // decimals = 12: the 6-dp oracle quantum is coarser than
          // 1/n at 5M nodes and would zero every rank (the require in
          // pairPageRank, added for exactly this smoke's finding)
          val pr = graft.dedup.Dedup.pairPageRank(pairs, iters = 3, decimals = 12)
          val hub = pr.where(col("doc_id") === 0L).head
          println(s"SCALE graph10m_pr1 hub deg=${hub.getLong(1)} rank=${hub.getDouble(2)}")
          require(hub.getDouble(2) > 0.0, "hub rank zeroed — rounding quantum too coarse")
          pr.count()
        }
        assertNoStraggler("graph10m_pr1")
      } finally {
        prevMode match {
          case Some(m) => spark.conf.set(graft.Materialize.ModeKey, m)
          case None => spark.conf.unset(graft.Materialize.ModeKey)
        }
      }
    }

    // --- ccstars: cc1 strategy A/B at 10M edges (VERDICT r18 task 2) -----
    // dedupClusters is the repo's most expensive operator at scale and
    // its 10M wall is ROUND-COUNT-dominated on a random giant
    // component (488.6 s at r18, per-round cost flat). A/B the
    // min-label+path-halving default against the large-star/small-star
    // alternation on the same graph (same 100k-spoke hub), asserting
    // identical label sums and straggler cleanliness for both.
    if (want("ccstars")) {
      graft.functions.GraftFunctions.register(spark)
      ensureGraph10m()
      val pairs = spark.read.parquet(s"$outDir/graph10m.parquet")
      val docs = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      spark.sparkContext.setCheckpointDir(s"$outDir/ccstars_ckpt")
      val prevMode = spark.conf.getOption(graft.Materialize.ModeKey)
      spark.conf.set(graft.Materialize.ModeKey, "checkpoint")
      try {
        var sumM = 0L
        var sumS = 0L
        timed("ccstars_minlabel_10m", runs = 1) {
          val (c, rounds) = graft.dedup.Dedup.clustersWithRounds(docs, pairs)
          val r = c.agg(sum(col("cluster_id")).as("s"), count(lit(1)).as("n")).head
          sumM = r.getLong(0)
          println(s"SCALE ccstars minlabel rounds=$rounds labelSum=$sumM nodes=${r.getLong(1)}")
          r.getLong(1)
        }
        assertNoStraggler("ccstars_minlabel_10m")
        timed("ccstars_stars_10m", runs = 1) {
          val (c, iters) = graft.dedup.Dedup.clustersViaStarsWithRounds(docs, pairs)
          val r = c.agg(sum(col("cluster_id")).as("s"), count(lit(1)).as("n")).head
          sumS = r.getLong(0)
          println(s"SCALE ccstars stars iterations=$iters labelSum=$sumS nodes=${r.getLong(1)}")
          r.getLong(1)
        }
        assertNoStraggler("ccstars_stars_10m")
        var sumA = 0L
        timed("ccstars_auto_10m", runs = 1) {
          val (c, rounds) = graft.dedup.Dedup.clustersAutoWithRounds(docs, pairs)
          val r = c.agg(sum(col("cluster_id")).as("s"), count(lit(1)).as("n")).head
          sumA = r.getLong(0)
          println(s"SCALE ccstars auto rounds=$rounds labelSum=$sumA nodes=${r.getLong(1)}")
          r.getLong(1)
        }
        assertNoStraggler("ccstars_auto_10m")
        require(sumM == sumS && sumM == sumA,
          s"strategy divergence at 10M: $sumM / $sumS / $sumA")
        println(s"SCALE ccstars exactness: label sums agree ($sumM)")
      } finally {
        prevMode match {
          case Some(m) => spark.conf.set(graft.Materialize.ModeKey, m)
          case None => spark.conf.unset(graft.Materialize.ModeKey)
        }
      }
    }

    // --- cc100m: the auto clustering strategy at 100M edges --------------
    // (VERDICT r19 task 3) One more order of magnitude over the
    // ccstars smoke: 100M edges over ~51M nodes with a 1M-SPOKE hub
    // (node 0), cluster posture. Only the `auto` default runs — the
    // min-label wall at this size is the exact thing auto retires, and
    // stars-alone was already A/B'd at 10M. Exactness is asserted
    // structurally instead of by strategy A/B (which would triple the
    // runtime): every EDGE must connect same-labeled endpoints (label
    // constancy within components), every emitted label must label
    // itself (roots are fixpoints), and no label exceeds its doc id
    // (labels are component minima candidates) — together with the
    // CorpusSpec equality properties at small sizes this pins the
    // assignment. The contracted root graph's edge count prints next
    // to maxDriverFoldEdges for the VERDICT question of where the
    // driver-fold gate would trip (the batch `auto` path always runs
    // stars distributed; the gate belongs to the incremental fold).
    if (want("cc100m")) {
      graft.functions.GraftFunctions.register(spark)
      def ensureGraph100m(): Unit =
        ensureParquet("graph100m.parquet")(
          spark.range(99000000L).select(
            pmod(xxhash64(col("id") * 31L + 7L), lit(50000000L)).as("doc_a"),
            pmod(xxhash64(col("id") * 131L + 11L), lit(50000000L)).as("doc_b"))
          .unionByName(spark.range(1000000L).select(
            lit(0L).as("doc_a"), (col("id") + 50000000L).as("doc_b"))))
      ensureGraph100m()
      val pairs = spark.read.parquet(s"$outDir/graph100m.parquet")
      val docs = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      spark.sparkContext.setCheckpointDir(s"$outDir/cc100m_ckpt")
      val prevMode = spark.conf.getOption(graft.Materialize.ModeKey)
      spark.conf.set(graft.Materialize.ModeKey, "checkpoint")
      try {
        var assign: DataFrame = null
        timed("cc100m_auto", runs = 1) {
          val (c, corpusRounds, starIters) =
            graft.dedup.Dedup.clustersAutoWithRoundsSplit(docs, pairs)
          assign = c.select(col("doc_id"), col("cluster_id")).persist()
          val r = assign.agg(sum(col("cluster_id").cast("decimal(38,0)")).as("s"),
            count(lit(1)).as("n")).head
          println(s"SCALE cc100m auto corpusRounds=$corpusRounds starIters=$starIters " +
            s"labelSum=${r.getDecimal(0)} nodes=${r.getLong(1)}")
          r.getLong(1)
        }
        assertNoStraggler("cc100m_auto")
        timed("cc100m_exactness", runs = 1) {
          val la = assign.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca"))
          val lb = assign.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb"))
          val badEdges = pairs.join(la, Seq("doc_a")).join(lb, Seq("doc_b"))
            .where(col("ca") =!= col("cb")).count()
          require(badEdges == 0L, s"cc100m: $badEdges edges straddle labels")
          val roots = assign.select(col("cluster_id")).distinct()
          val badRoots = roots.join(assign,
              roots("cluster_id") === assign("doc_id"))
            .where(assign("cluster_id") =!= roots("cluster_id")).count()
          require(badRoots == 0L, s"cc100m: $badRoots non-fixpoint roots")
          val badMin = assign.where(col("cluster_id") > col("doc_id")).count()
          require(badMin == 0L, s"cc100m: $badMin labels above their doc id")
          println(s"SCALE cc100m exactness: edge-consistent, root-fixpoint, min-bounded")
          badEdges + badRoots + badMin
        }
        // the contracted root graph the auto switch handed to stars:
        // its measured size against the incremental driver-fold bound
        assign.unpersist()
        val contracted = graft.dedup.Dedup.lastStarsInitialEdges.get()
        val bound = graft.dedup.Dedup.maxDriverFoldEdges
        println(s"SCALE cc100m contracted-root-graph edges=$contracted vs " +
          s"maxDriverFoldEdges=$bound -> " +
          (if (contracted >= 0 && contracted <= bound)
            "would DRIVER-FOLD on the incremental path"
          else "would stay DISTRIBUTED on the incremental path") +
          " (batch auto always runs stars distributed)")
      } finally {
        prevMode match {
          case Some(m) => spark.conf.set(graft.Materialize.ModeKey, m)
          case None => spark.conf.unset(graft.Materialize.ModeKey)
        }
      }
    }

    // --- repairwj: the window/join repair extension at 10M ---------------
    // (VERDICT r16 item 4) Divergently-pruned duplicate Window and Join
    // subtrees are the same reuse-defeated class as the aggregates the
    // round-16 repair covered; with the flag on, the equalized children
    // canonicalize equal and the shared scan+shuffle executes once.
    if (want("repairwj")) {
      graft.functions.GraftFunctions.register(spark)
      ensureRepair10m()
      ensureRepairDim()
      spark.read.parquet(s"$outDir/repair10m.parquet").createOrReplaceTempView("repair10m")
      spark.read.parquet(s"$outDir/repairdim.parquet").createOrReplaceTempView("repairdim")
      def scansOf(df: DataFrame): Int = PlanAudit.fileScanCount(df)
      def measure(label: String, sql: String, expectOff: Int, expectOn: Int): Unit = {
        var offRow: org.apache.spark.sql.Row = null
        var offScans = -1
        timed(s"${label}_off_10m") {
          val df = spark.sql(sql)
          offRow = df.collect()(0)
          offScans = scansOf(df)
          offRow.getLong(0)
        }
        var onRow: org.apache.spark.sql.Row = null
        var onScans = -1
        timed(s"${label}_on_10m") {
          spark.conf.set(graft.plans.PlanAuditRepair.FlagKey, "true")
          try {
            val df = spark.sql(sql)
            require(df.queryExecution.optimizedPlan.toString.contains("RepairProject"),
              s"$label repair did not fire:\n" +
                df.queryExecution.optimizedPlan.toString.take(2000))
            onRow = df.collect()(0)
            onScans = scansOf(df)
          } finally spark.conf.unset(graft.plans.PlanAuditRepair.FlagKey)
          onRow.getLong(0)
        }
        println(s"SCALE repairwj/$label: scans off=$offScans (expect $expectOff) " +
          s"on=$onScans (expect $expectOn); results " +
          s"${if (offRow == onRow) s"IDENTICAL ($offRow)" else s"DIVERGED $offRow vs $onRow"}")
      }
      // shared 1M-partition window, two consumers pruning differently
      measure("window",
        """SELECT CAST(count(*) AS BIGINT) AS n,
          |  SUM(CAST(a.tot + b.m AS DECIMAL(38,0))) AS chk
          |FROM (SELECT g, sum(cs) AS tot FROM
          |        (SELECT g, sum(x) OVER (PARTITION BY g ORDER BY x) AS cs,
          |                avg(y) OVER (PARTITION BY g ORDER BY x) AS ay,
          |                y FROM repair10m) GROUP BY g) a
          |JOIN (SELECT g, CAST(max(ay + y) AS BIGINT) AS m FROM
          |        (SELECT g, sum(x) OVER (PARTITION BY g ORDER BY x) AS cs,
          |                avg(y) OVER (PARTITION BY g ORDER BY x) AS ay,
          |                y FROM repair10m) GROUP BY g) b
          |  ON a.g = b.g""".stripMargin, 2, 1)
      // shared fact⋈dim join, two consumers pruning differently; SMJ
      // forced so BOTH sides carry shuffle exchanges to reuse
      val prevBjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        measure("join",
          """SELECT CAST(count(*) AS BIGINT) AS n,
            |  SUM(CAST(a.sx + b.mz AS DECIMAL(38,0))) AS chk
            |FROM (SELECT g, sum(x) AS sx FROM
            |        (SELECT t.g AS g, t.x AS x, t.y AS y, u.z AS z
            |         FROM repair10m t JOIN repairdim u ON t.g = u.g) GROUP BY g) a
            |JOIN (SELECT g, max(z + y) AS mz FROM
            |        (SELECT t.g AS g, t.x AS x, t.y AS y, u.z AS z
            |         FROM repair10m t JOIN repairdim u ON t.g = u.g) GROUP BY g) b
            |  ON a.g = b.g""".stripMargin, 4, 2)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBjt)
    }

    // --- r15keys: measured scale smokes for the round-15 key newcomers ---
    // (VERDICT r15 item 4) pc2 (stateless scan projection, 200k vecs),
    // hn1 (label-carry probe chain), qs1 (whole threshold grid in ONE
    // scan, ≤10 combined rows per exchange), fc1 (conditional-agg
    // funnel) — each consumed by hashing EVERY output column (a bare
    // count() would let Catalyst prune lazy projections, the round-15
    // bench caveat), with maxTask attribution for SCALE_NOTES.
    if (want("r15keys")) {
      graft.functions.GraftFunctions.register(spark)
      // GraftConf.localSmallFiles posture: without it a ~400MB 1M-doc
      // file scans as ~4 splits and the CPU-heavy per-doc kernels
      // serialize onto 4 cores (first measurement: qs1 maxTask 77.6s
      // of a 79.1s total — a scan-parallelism artifact, not the
      // operator's shape)
      val prevMpb = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
      try {
      def consume(df: DataFrame): Long = {
        // decimal sum: 1M raw 64-bit hashes overflow a long under ANSI
        val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
          .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)"))).head
        r.getLong(0)
      }
      Seq("pc2_anisotropy_correct", "hn1_hard_negatives",
          "qs1_quality_yield", "fc1_filter_cascade").foreach { name =>
        var shape: DataFrame = null
        timed(name) {
          shape = graft.SparkEntry.queries(name)(spark, outDir)
          consume(shape)
        }
        auditAndPrint(name, shape)
      }
      // hn1's KEY fixture scales its centroid set with the corpus
      // (vec_id % 25 → 8,000 centroids at 200k vectors — an oracle
      // convenience, measured above for honesty); production IVF
      // keeps a fixed ~√N centroid budget, so measure that shape too:
      // the assignment stage is O(N·C·d) and C is the knob
      val e200k = spark.read.parquet(s"$outDir/embeddings.parquet")
      timed("hn1_prod_256centroids") {
        val df = graft.similarity.Similarity.ivfHardNegatives(
          e200k.where(col("vec_id") < 20), e200k,
          centroids = e200k.where(pmod(col("vec_id"), lit(781L)) === 0),
          k = 5, nProbe = 3)
        consume(df)
      }
      // qs1's one-scan claim at 1M docs: the grid output is exactly
      // the 10 threshold rows, nothing per-doc crosses an exchange
      val qs = graft.SparkEntry.queries("qs1_quality_yield")(spark, outDir)
      val qsRows = qs.count()
      require(qsRows <= 10L, s"qs1 grid grew beyond the threshold decades: $qsRows")
      println(s"SCALE r15keys: qs1 emits $qsRows grid rows at 1M docs (per-doc data never crosses an exchange)")
      } finally {
        prevMpb match {
          case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
          case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
        }
      }
    }

    // --- hotgram: adversarial skew probe for ng1's gram-keyed exchange ---
    // Plant grams present in EVERY doc (a boilerplate header — the
    // realistic crawl pathology) over 1M docs and compare ng1's two
    // candidate shapes:
    //  (a) SHIPPED window form: min(doc_id) OVER (PARTITION BY g) —
    //      the hot gram's entire group lands in ONE task and the
    //      unbounded-frame window BUFFERS it (spill pressure + a
    //      pinned reducer at 100x);
    //  (b) two-aggregate form: groupBy(g).agg(min(doc_id) AS fd) then
    //      groupBy(fd).count() — novel counts per doc WITHOUT a join
    //      back to the gram table (grams are per-doc distinct, so the
    //      first-holder relation IS the novelty count); every exchange
    //      is partial-combined, a hot gram contributes one row per
    //      map partition.
    // Both must produce identical (n_grams, n_novel) sums; the maxTask
    // ratio decides which form the shipped key keeps.
    if (want("hotgram")) {
      graft.functions.GraftFunctions.register(spark)
      val nHot = 1000000L
      // 8 shared header tokens = 6 hot 3-grams in every doc; 12 unique
      // tokens per doc keep the novel tail realistic
      val hdocs = spark.range(nHot).select(col("id").as("doc_id"),
        concat(lit("corpus header boilerplate line shared by every document "),
          concat_ws(" ", (0 until 12).map(j =>
            conv(pmod(xxhash64(col("id") * 37 + j), lit(1L << 40)), 10, 16)): _*))
          .as("text"))
      hdocs.write.mode("overwrite").parquet(s"$outDir/hotdocs.parquet")
      val docs1m = spark.read.parquet(s"$outDir/hotdocs.parquet")
      def gramsOf(df: DataFrame) = df.select(col("doc_id"),
        explode(array_distinct(call_function("graft_shingle_hashes",
          col("text"), lit(3)))).as("g"))
      var sumWin = (0L, 0L); var sumAgg = (0L, 0L)
      timed("hotgram_ng1_window_1m") {
        import org.apache.spark.sql.expressions.Window
        val per = gramsOf(docs1m)
          .withColumn("first_doc",
            min(col("doc_id")).over(Window.partitionBy(col("g"))))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("ng"),
            sum((col("doc_id") === col("first_doc")).cast("long")).as("nn"))
        val r = per.agg(sum(col("ng")), sum(col("nn"))).head
        sumWin = (r.getLong(0), r.getLong(1))
        sumWin._1
      }
      timed("hotgram_ng1_twoagg_1m") {
        val g = gramsOf(docs1m)
        val ng = g.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))
        val nn = g.groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
          .groupBy(col("fd")).agg(count(lit(1)).as("nn"))
        val r = ng.join(nn, col("doc_id") === col("fd"), "left")
          .agg(sum(col("ng")), sum(coalesce(col("nn"), lit(0L)))).head
        sumAgg = (r.getLong(0), r.getLong(1))
        sumAgg._1
      }
      //  (c) ONE-SCAN bounded form: n_grams = size(array_distinct(..))
      //      computed BEFORE the explode (no second scan), novelty via
      //      the two partial-combined aggregates, final join doc-keyed
      //      (uniform). Strictly dominates (b); vs (a) it trades the
      //      window's whole-group buffering for one extra exchange.
      var sumOne = (0L, 0L)
      timed("hotgram_ng1_onescan_1m") {
        val base = docs1m.select(col("doc_id"),
          array_distinct(call_function("graft_shingle_hashes",
            col("text"), lit(3))).as("grams"))
        val ng = base.select(col("doc_id"), size(col("grams")).cast("long").as("ng"))
        val nn = base.select(col("doc_id"), explode(col("grams")).as("g"))
          .groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
          .groupBy(col("fd")).agg(count(lit(1)).as("nn"))
        val r = ng.join(nn, col("doc_id") === col("fd"), "left")
          .agg(sum(col("ng")), sum(coalesce(col("nn"), lit(0L)))).head
        sumOne = (r.getLong(0), r.getLong(1))
        sumOne._1
      }
      println(s"SCALE hotgram: window=(ng=${sumWin._1}, nn=${sumWin._2}) " +
        s"twoagg=(ng=${sumAgg._1}, nn=${sumAgg._2}) " +
        s"onescan=(ng=${sumOne._1}, nn=${sumOne._2}) " +
        s"${if (sumWin == sumAgg && sumAgg == sumOne) "IDENTICAL" else "DIVERGED"}")
    }
    // --- bucketed co-located join at 10M rows (STATUS r15 item) ---------
    // The BucketedJoinSpec plan assertion, with wall-clock: the same
    // fact⋈dim → per-key agg, once over catalog-bucketed tables (both
    // sides bucketed 32 ways on the join key → the join AND the
    // aggregate above it plan with no exchange beyond the final
    // single-row fold) and once over plain parquet (two join shuffles
    // + the agg exchange). Long sums so value equality is exact.
    if (want("bucketed")) {
      // broadcast would hide the co-location (the dim's size estimate
      // sits under the threshold): force SMJ so the measured shapes
      // are bucketed-SMJ(0 join exchanges) vs shuffled-SMJ(2)
      val prevBc = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try { // ADVICE r15: restore must survive a section failure, or
            // every later section runs with broadcast joins disabled
      val nF = 10000000L; val nD = 2000000L
      val fact = spark.range(nF).select(
        (col("id") % 1000000L).as("k"), (col("id") % 97).as("v"))
      val dim = spark.range(nD).select(
        (col("id") % 1000000L).as("k"), (col("id") % 13).as("w"))
      spark.sql("DROP TABLE IF EXISTS bs_fact")
      spark.sql("DROP TABLE IF EXISTS bs_dim")
      graft.sources.IO.writeBucketed(fact, "bs_fact", 32, Seq("k"),
        path = Some(s"$outDir/bs_fact"))
      graft.sources.IO.writeBucketed(dim, "bs_dim", 32, Seq("k"),
        path = Some(s"$outDir/bs_dim"))
      fact.write.mode("overwrite").parquet(s"$outDir/bp_fact")
      dim.write.mode("overwrite").parquet(s"$outDir/bp_dim")
      def q(f: DataFrame, d: DataFrame): DataFrame =
        f.join(d, "k").groupBy(col("k"))
          .agg(sum(col("v") * col("w")).as("s"))
          .agg(count(lit(1)).as("n"), sum(col("s")).as("tot"))
      val bq = q(spark.table("bs_fact"), spark.table("bs_dim"))
      val pq = q(spark.read.parquet(s"$outDir/bp_fact"),
        spark.read.parquet(s"$outDir/bp_dim"))
      def exchanges(df: DataFrame): Int =
        "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
      var bTot = 0L; var pTot = 0L
      timed("bucketed_join_10m") { val r = bq.head; bTot = r.getLong(1); r.getLong(0) }
      timed("shuffled_join_10m") { val r = pq.head; pTot = r.getLong(1); r.getLong(0) }
      println(s"SCALE bucketed: exchanges bucketed=${exchanges(bq)} " +
        s"plain=${exchanges(pq)}; totals " +
        s"${if (bTot == pTot) s"IDENTICAL ($bTot)" else s"DIVERGED $bTot vs $pTot"}")
      } finally {
        prevBc match {
          case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
          case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
      }
    }
    spark.stop()
  }
}
