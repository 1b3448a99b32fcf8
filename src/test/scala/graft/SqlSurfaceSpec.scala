package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.FindPeaks

class SqlSurfaceSpec extends AnyFunSuite with SparkTestBase {

  test("detectors and functions reachable from spark.sql") {
    val vals = Seq(1.0, 2.0, 700.0, 700.0, 3.0, 4.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0)
    SqlSurface.register(dailySeries(vals))
    assert(spark.sql("SELECT count(*) FROM graft_series").head.getLong(0) == 12L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_extreme_value_events WHERE n_points = 2").head.getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM graft_flat_line_events").head.getLong(0) == 1L)
    // joins across detector views work
    assert(spark.sql(
      """SELECT count(*) FROM graft_series s
        |JOIN graft_extreme_value_events e
        |ON s.series_id = e.series_id AND s.ts BETWEEN e.start AND e.stop""".stripMargin)
      .head.getLong(0) == 2L)
    // native expression available in SQL
    val d = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head.getDouble(0)
    assert(d == 11.0)
  }

  test("corpus views: stats/splits/dedup reachable and joinable from SQL") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away"
    val docs = Seq(
      // doc 1: exact dup after normalization (punct only) AND a
      // minhash near-dup (shingles are case-sensitive by design, so
      // the text must share tokens, not just normalized form)
      (0L, base), (1L, base + "!"),
      (2L, base + " extra tail tokens here"),
      (3L, "something completely different with many unrelated words inside")
    ).toDF("doc_id", "text")
    SqlSurface.registerCorpus(docs)
    assert(spark.sql("SELECT count(*) FROM graft_doc_stats WHERE n_tokens > 0")
      .head.getLong(0) == 4L)
    // exact dedup found the case/punct-normalized duplicate
    assert(spark.sql(
      "SELECT count(*) FROM graft_exact_dedup WHERE is_dup").head.getLong(0) == 1L)
    // cluster view agrees with exact dedup through a SQL join
    assert(spark.sql(
      """SELECT count(*) FROM graft_exact_dedup e
        |JOIN graft_dedup_clusters c ON e.doc_id = c.doc_id
        |WHERE e.is_dup AND c.cluster_id <> c.doc_id""".stripMargin)
      .head.getLong(0) == 1L)
    // every doc has exactly one split tag
    assert(spark.sql(
      """SELECT count(*) FROM graft_doc_splits
        |WHERE split IN ('train','validation','test')""".stripMargin)
      .head.getLong(0) == 4L)
    // pii view: clean corpus scrubs to itself (digest = md5 of text
    // unchanged is not asserted — just that the view answers in SQL)
    assert(spark.sql(
      "SELECT count(*) FROM graft_pii_scrub WHERE n_emails = 0 AND n_addresses = 0")
      .head.getLong(0) == 4L)
  }

  test("round-7/8 corpus families reachable from SQL and equal to their DataFrame twins") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rep = "w1 w2 w3 w4 w5 w6 w7"
    val docs = (0L until 20L).map { i =>
      val tail = if (i % 4 == 0) rep else s"tail$i t${i}a t${i}b t${i}c t${i}d t${i}e t${i}f"
      (i, s"shared head tokens here $tail")
    }.toDF("doc_id", "text")
    SqlSurface.registerCorpus(docs,
      bm25Terms = Seq("shared", "tail5"),
      dsirTarget = Some(col("doc_id") % 2 === 0),
      curationEval = Some(col("doc_id") % 7 === 3))
    def rows(sql: String) = spark.sql(sql).collect().toSeq.map(_.toString).sorted
    def same(view: String, twin: org.apache.spark.sql.DataFrame): Unit =
      assert(rows(s"SELECT * FROM $view") ==
        twin.collect().toSeq.map(_.toString).sorted, view)
    same("graft_substring_dedup", graft.dedup.Dedup.substringDedup(docs, l = 5))
    same("graft_substring_keepfirst",
      graft.dedup.Dedup.substringDedup(docs, l = 5, keepFirst = true))
    // round-10 views: quality screen (every doc scored, keep boolean
    // set), cluster splits (leakage invariant through SQL), quantile
    // sketch (one row, exact == est at sub-k corpus size)
    assert(spark.sql(
      "SELECT count(*) FROM graft_quality_screen WHERE logit6 IS NOT NULL")
      .head.getLong(0) == 20L)
    assert(spark.sql(
      """SELECT count(*) FROM (SELECT cluster_id FROM graft_cluster_splits
        |GROUP BY cluster_id HAVING count(DISTINCT split) > 1)""".stripMargin)
      .head.getLong(0) == 0L)
    val kq = spark.sql(
      """SELECT n_rows, k_used, p50_exact, p50_est, p99_exact, p99_est
        |FROM graft_kmv_quantiles""".stripMargin).head
    assert(kq.getLong(0) == 20L && kq.getLong(1) == 20L)
    assert(kq.getDouble(2) == kq.getDouble(3) && kq.getDouble(4) == kq.getDouble(5))
    same("graft_bm25",
      graft.queries.TextAnalysis.bm25TopK(docs, Seq("shared", "tail5")))
    same("graft_dsir_select",
      graft.queries.CorpusQueries.dsirSelect(docs, col("doc_id") % 2 === 0))
    same("graft_dsir_heldout",
      graft.queries.CorpusQueries.dsirSelect(docs, col("doc_id") % 2 === 0,
        heldOutRaw = true))
    // canonical selection: SQL view joins work and every cluster keeps
    // exactly one canonical member
    val canon = spark.sql(
      """SELECT cluster_id, count(*) AS n, sum(CASE WHEN keep THEN 1 ELSE 0 END) AS kept
        |FROM graft_canonical_quality GROUP BY cluster_id""".stripMargin).collect()
    assert(canon.nonEmpty && canon.forall(_.getLong(2) == 1L))
    // curation: eval docs excluded, keep implies not contaminated
    assert(spark.sql(
      "SELECT count(*) FROM graft_curation WHERE doc_id % 7 = 3").head.getLong(0) == 0L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_curation WHERE keep AND contaminated").head.getLong(0) == 0L)
    // round-11 views: the bloom screen agrees with the exact gram
    // screen row-for-row; chunks cover every non-empty doc; triangles
    // ride the same pair graph
    same("graft_bloom_decontaminate",
      graft.dedup.Dedup.decontaminate(
        docs.where(col("doc_id") % 7 =!= 3), docs.where(col("doc_id") % 7 === 3)))
    assert(spark.sql(
      "SELECT count(DISTINCT doc_id) FROM graft_chunks").head.getLong(0) == 20L)
    same("graft_triangles",
      graft.dedup.Dedup.triangleCounts(
        graft.dedup.Dedup.minhashNearDups(docs, 0.6).select("doc_a", "doc_b")))
  }

  test("similarity family (s1-s5, e1, e2) reachable from SQL and equal to DataFrame twins") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val S = graft.similarity.Similarity
    def vec(seed: Long) = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextDouble() * 2.0 - 1.0)
    }
    val embs = (0L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = embs.where(col("vec_id") < 3)
    val seeds = embs.where(col("vec_id") < 16)
    val pqQuery = embs.where(col("vec_id") === 17)
    val cents = embs.where(col("vec_id") % 20 === 0)
    SqlSurface.registerEmbeddings(embs, queries, seeds, pqQuery, cents)
    def rows(sql: String) = spark.sql(sql).collect().toSeq.map(_.toString).sorted
    def same(view: String, twin: org.apache.spark.sql.DataFrame): Unit =
      assert(rows(s"SELECT * FROM $view") ==
        twin.collect().toSeq.map(_.toString).sorted, view)
    same("graft_int8_quantize", S.quantizeInt8Stats(embs))
    same("graft_ann_topk", S.bruteForceTopK(queries, embs, 5))
    same("graft_ivf_topk", S.ivfTopK(queries, embs, cents, 5, 3))
    same("graft_pq_codes", S.pqEncodeAdc(embs, seeds, pqQuery))
    same("graft_pq_topk", S.pqTopK(embs, seeds, pqQuery, 20))
    same("graft_ivfadc_topk", S.ivfAdcTopK(embs, seeds, pqQuery, cents, 20))
    same("graft_ivfadc_residual_topk",
      S.ivfAdcResidualTopK(embs, seeds, pqQuery, cents, 20))
    same("graft_binary_hamming_topk", S.binaryHammingTopK(embs, pqQuery, 20))
    same("graft_binary_rerank_topk",
      S.binaryRerankTopK(embs, pqQuery, candidates = 100, topK = 20))
    // cross-view SQL composition: PQ codes joinable with ANN output
    assert(spark.sql(
      """SELECT count(*) FROM graft_pq_topk p
        |JOIN graft_pq_codes c ON p.vec_id = c.vec_id
        |WHERE p.adc6 = c.adc6""".stripMargin).head.getLong(0) >= 1L)
    // hard negatives: absent without labels, registered + twin-equal with
    assert(!spark.catalog.tableExists("graft_hard_negatives"))
    val labeled = embs.withColumn("label", (col("vec_id") % 2).cast("int"))
    SqlSurface.registerEmbeddings(
      labeled, labeled.where(col("vec_id") < 3), seeds, pqQuery, cents)
    same("graft_hard_negatives",
      S.ivfHardNegatives(labeled.where(col("vec_id") < 3), labeled, cents, 5, 3))
    // ADVICE r15: re-registering with UNLABELED frames must drop the
    // stale view — its presence always reflects the latest registration
    SqlSurface.registerEmbeddings(embs, queries, seeds, pqQuery, cents)
    assert(!spark.catalog.tableExists("graft_hard_negatives"),
      "stale graft_hard_negatives survived an unlabeled re-registration")
  }

  test("event views: funnel, MAD outliers, weighted sample reachable from SQL") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d0 = this.day(0); val d1 = this.day(1)
    val events = Seq(
      (1L, d0, 1L, "view", 1.0), (1L, d1, 2L, "click", 2.0),
      (2L, d0, 3L, "view", 3.0), (2L, d1, 4L, "purchase", 100.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    SqlSurface.registerEvents(events, Seq("view", "click"))
    val funnel = spark.sql("SELECT stage, users FROM graft_funnel")
      .as[(String, Long)].collect().toMap
    assert(funnel == Map("view" -> 2L, "click" -> 1L))
    assert(spark.sql("SELECT count(*) FROM graft_mad_outliers").head.getLong(0) == 2L)
    // round-11 event views: SCD2 history (user 1 changes view->click:
    // 2 versions, one current), seasonal strength, feature scale
    val hist = spark.sql(
      """SELECT user_id, version, event_type, is_current
        |FROM graft_scd2_history WHERE user_id = 1 ORDER BY version""".stripMargin)
      .as[(Long, Long, String, Boolean)].collect().toSeq
    assert(hist == Seq((1L, 1L, "view", false), (1L, 2L, "click", true)))
    assert(spark.sql("SELECT count(*) FROM graft_seasonal_strength")
      .head.getLong(0) > 0L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_feature_scale WHERE mm6 IS NOT NULL")
      .head.getLong(0) == 4L)
    val docs = Seq((1L, "short"), (2L, "a much longer document body"))
      .toDF("doc_id", "text")
    SqlSurface.registerCorpus(docs)
    // n_chars absent → falls back to text length; both docs sampled
    assert(spark.sql("SELECT count(*) FROM graft_weighted_sample").head.getLong(0) == 2L)
    // round-12 event views: user 2's purchase credits its preceding
    // view (last-touch); the rolling-active view covers both days;
    // the 7-day windowed funnel equals fn1 on this in-window data
    val at = spark.sql(
      "SELECT touch_type, n_purchases FROM graft_last_touch")
      .as[(Option[String], Long)].collect().toMap
    assert(at == Map(Option("view") -> 1L))
    assert(spark.sql("SELECT count(*) FROM graft_active_users")
      .head.getLong(0) == 2L)
    val wf = spark.sql("SELECT stage, users FROM graft_windowed_funnel")
      .as[(String, Long)].collect().toMap
    assert(wf == Map("view" -> 2L, "click" -> 1L))
    // the round-12 native function is SQL-callable directly
    assert(spark.sql("SELECT graft_jaro_winkler('martha', 'marhta') AS jw")
      .head.getDouble(0) == 0.9611111111111111)
  }

  test("find_peaks clamp: near-head peak paints from index 0, no wrap") {
    // peak at index 1 with width > 1: int(p - w) < 0 must clamp to 0
    // (the reference's iloc would wrap to the series tail - SURVEY §7.1/L4)
    val x = Array(0.0, 500.0, 0.0, 0.0, 0.0, 0.0)
    val mask = FindPeaks.spikeValleyMask(x, FindPeaks.Params(prominence = Some(100.0)))
    assert(mask(0) && mask(1) && mask(2))
    assert(!mask(4) && !mask(5)) // tail untouched: no negative-index wrap
  }

  test("README cookbook: batch and streaming station->storm flows run verbatim") {
    // the README's batch snippet, with source=CSV (recorded fixture)
    // standing in for the live CDEC backend — same DSv2 path
    import graft.operators.StormEvents
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val fixturePath = getClass.getResource("/station_tum.csv").getPath
    val accum = spark.read.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "TUM")
      .option("start", "2022-12-01").option("stop", "2022-12-20")
      .load()
    val increments = accum
      .select(col("station_id").as("series_id"), col("ts"),
        (col("accum") - lag(col("accum"), 1)
          .over(Window.partitionBy("station_id").orderBy("ts"))).as("value"))
    val storms = StormEvents().detect(increments)
    val n = storms.count()
    assert(n > 0, "cookbook batch flow found no storms on the fixture")
    assert(storms.columns.toSeq ==
      Seq("series_id", "event_type", "start", "stop", "duration_us",
        "n_points", "total"))
    // the streaming snippet: same fixture through the micro-batch
    // source -> O(1)-state diff -> storm fold; it must emit the batch
    // flow's storms, all but the final one
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("cookbook-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cookbook-ckpt").toString
    val live = spark.readStream.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "TUM")
      .option("start", "2022-12-01").option("stop", "2022-12-20")
      .option("pollSeconds", "1").load()
    val sstorms = graft.streaming.StreamingDetectors.storms(
      instantMassToStart = 0.1, minStormTotal = 0.5, hoursToStop = 24,
      maxStormHours = 336, frequency = "1D")(
      graft.streaming.StreamingStations.increments(live))
    val q = sstorms.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val streamed = spark.read.parquet(out)
      assert(streamed.columns.toSeq == storms.columns.toSeq)
      // the final storm closes at end of input, which a stream never
      // reaches; every other batch storm must appear, bit for bit
      val closed = withoutFinalStorm(collectEvents(storms))
      assert(closed.nonEmpty)
      assert(collectEvents(streamed) == closed)
    } finally q.stop()
  }
}
