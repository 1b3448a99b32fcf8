package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.{GraftFunctions, TextFunctions}

/** The native one-pass kernels (graft_shingle_hashes, graft_minhash,
  * graft_simhash64) must be EXACTLY equal to the composed-Column
  * pipelines they replace — those pipelines are the DuckDB oracle
  * twins, so any divergence breaks the correctness gate silently.
  * Adversarial inputs: tabs/newlines (Spark `trim` strips 0x20 only,
  * so a leading tab yields a leading empty token in BOTH paths),
  * blank/short texts, unicode, repeated tokens.
  */
class NativeExpressionsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b c",                       // exactly n tokens for n=3
    "a b",                         // fewer than n tokens
    "solo",
    "",                            // blank -> empty hashes
    "   ",                         // spaces only
    "\tleading tab here and more", // trim keeps \t -> leading empty token
    "line\nbreak inside the text body",
    "döc ümläut çharacters in wörds here",
    "rep rep rep rep rep rep",     // heavy duplication
    "  padded   with   runs   of spaces  ",
    (1 to 60).map(i => s"tok$i").mkString(" "))

  private def df = {
    GraftFunctions.register(spark)
    texts.zipWithIndex
      .toDF("text", "doc_id")
  }

  test("graft_shingle_hashes(text, 3) == shingleHashes(wordShingles(text, 3))") {
    val cmp = df.select(
      call_function("graft_shingle_hashes", col("text"), lit(3)).as("native"),
      Dedup.shingleHashes(Dedup.wordShingles(col("text"), 3)).as("composed"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("graft_shingle_hashes(text, 1) == per-token hashes (simhash input)") {
    val cmp = df.select(
      call_function("graft_shingle_hashes", col("text"), lit(1)).as("native"),
      Dedup.tokenHashes(col("text")).as("composed"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("graft_minhash == minhashSignature over the same digests") {
    val digs = df
      .select(call_function("graft_shingle_hashes", col("text"), lit(3)).as("digs"))
      .where(size(col("digs")) > 0)
      .localCheckpoint(true) // barrier: same precondition as production use
    val cmp = digs.select(
      call_function("graft_minhash", col("digs"), lit(12)).as("native"),
      Dedup.minhashSignature(col("digs"), 12).as("composed"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("graft_simhash64 == portable 32-bit folds over lo/hi token hashes") {
    // hi token hash: md5 hex chars 9-16 (digest bytes 4-7 big-endian)
    val hiHashes = transform(TextFunctions.wsTokens(col("text")),
      t => conv(substring(md5(t), 9, 8), 16, 10).cast("long"))
    val cmp = df.select(
      call_function("graft_simhash64", col("text")).as("native"),
      Dedup.simhashFromHashes(Dedup.tokenHashes(col("text"))).as("lo"),
      Dedup.simhashFromHashes(hiHashes).as("hi"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[Long](0) == Seq(r.getLong(1), r.getLong(2)), r.toString)
    }
  }

  test("graft_norm_fp == composed normalizedFingerprint (incl. regex quirks)") {
    val adversarial = texts ++ Seq(
      "\tTabs\tAND\tCaps!", "Ünïcode ÅBC déjà-vu", "a.b,c;d:e", "...",
      "MiXeD   CaSe\n\nwithvertical\ftabs", "1234 !@#$ 5678")
    val cmp = adversarial.zipWithIndex.toDF("text", "i").select(
      call_function("graft_norm_fp", col("text")).as("native"),
      TextFunctions.normalizedFingerprint(col("text")).as("composed"))
    cmp.collect().foreach { r =>
      assert(r.getString(0) == r.getString(1), r.toString)
    }
  }

  test("kernel matches wsTokens token-count semantics on whitespace edge cases") {
    val cmp = df.select(
      size(call_function("graft_shingle_hashes", col("text"), lit(1))).as("native_n"),
      size(TextFunctions.wsTokens(col("text"))).as("tok_n"))
    cmp.collect().foreach { r =>
      assert(r.getInt(0) == r.getInt(1), r.toString)
    }
  }

  test("graft_sign_bands == composed per-bit graft_dot bands (bit-identical keys)") {
    import graft.similarity.Similarity
    val rnd = new scala.util.Random(11)
    val dim = 16
    // include sign-boundary-adjacent vectors: tiny components push
    // projections near 0 where any reassociation would flip bits
    val vecs = (0L until 64L).map { id =>
      (id, Array.fill(dim)((rnd.nextDouble() - 0.5) *
        (if (id % 7 == 0) 1e-9 else 2.0)))
    }.toDF("id", "emb")
    val native = Similarity.signBands(vecs, bits = 11, bands = 5, dim = dim)
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
    val composed = Similarity.signBandsComposed(vecs, bits = 11, bands = 5, dim = dim)
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
    assert(native == composed)
  }

  test("graft_sign_bands_adaptive: base keys match, probes are the most-marginal flips") {
    import graft.similarity.Similarity
    val rnd = new scala.util.Random(23)
    val dim = 16
    val bits = 7
    val bands = 3
    val probes = 2
    val vecs = (0L until 48L).map { id =>
      (id, Array.fill(dim)((rnd.nextDouble() - 0.5) * 2.0))
    }
    val df = vecs.toDF("id", "emb")
    val got = df.select(col("id"),
        call_function("graft_sign_bands_adaptive",
          col("emb"), lit(bits), lit(bands), lit(dim), lit(probes)).as("keys"))
      .orderBy("id").as[(Long, Seq[Long])].collect().toMap
    val base = Similarity.signBands(
        df.select(col("id"), col("emb")), bits, bands, dim)
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toMap
    val stride = 1 + probes
    vecs.foreach { case (id, emb) =>
      val keys = got(id)
      assert(keys.size == bands * stride)
      // Scala-side recompute of each band's margins from the pinned planes
      (0 until bands).foreach { j =>
        assert(keys(j * stride) == base(id)(j), s"base key mismatch id=$id band=$j")
        val margins = (0 until bits).map { i =>
          val plane = Similarity.lshPlane(j * bits + i, dim)
          val s = (0 until dim).foldLeft(0.0)((acc, d) => acc + emb(d) * plane(d))
          (math.abs(s), i)
        }.sorted
        (0 until probes).foreach { t =>
          val expect = base(id)(j) ^ (1L << margins(t)._2)
          assert(keys(j * stride + 1 + t) == expect,
            s"probe $t mismatch id=$id band=$j")
        }
      }
    }
  }

  test("graft_sign_bands fails loudly on wrong-length embeddings") {
    val bad = Seq((0L, Array(1.0, 2.0))).toDF("id", "emb")
    val e = intercept[Exception] {
      graft.similarity.Similarity.signBands(bad, bits = 4, bands = 2, dim = 64).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("embedding length")))
  }

  // deterministic pseudo-random doubles in [-1, 1) — fixed seed so the
  // PQ tests are reproducible
  private def prand(seed: Long, n: Int): Array[Double] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextDouble() * 2.0 - 1.0)
  }

  test("graft_pq_encode/adc == the literal-chain formulation they replaced") {
    GraftFunctions.register(spark)
    val m = 4; val dsub = 16; val dim = m * dsub; val k = 8
    val corpus = (0 until 40).map(i => (i.toLong, prand(1000 + i, dim)))
    val cb = (0 until k).map(c => prand(2000 + c, dim)).toArray
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    // the pre-round-9 portable reference: literal add/multiply chains,
    // round(·,6) per subspace distance, array_position(array_min) argmin
    val emb = col("emb")
    def subDist(j: Int, c: Array[Double]) = {
      var e: org.apache.spark.sql.Column = lit(0.0)
      (0 until dsub).foreach { i =>
        val d = element_at(emb, j * dsub + i + 1) - lit(c(j * dsub + i))
        e = e + d * d
      }
      round(e, 6)
    }
    val litCodes = (0 until m).map { j =>
      val dists = array(cb.map(c => subDist(j, c)).toIndexedSeq: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    val q = prand(3000, dim)
    val qd: Array[Double] = Array.tabulate(m) { j =>
      cb.map { c =>
        var acc = 0.0
        (0 until dsub).foreach { i =>
          val d = q(j * dsub + i) - c(j * dsub + i); acc += d * d }
        round6(acc)
      }
    }.flatten
    val litAdc = round((0 until m).map { j =>
      element_at(array(qd.slice(j * k, (j + 1) * k).map(lit).toIndexedSeq: _*),
        litCodes(j) + 1)
    }.reduceLeft(_ + _), 6)
    val df = corpus.toDF("id", "emb")
    val cmp = df.select(
      call_function("graft_pq_encode", emb, typedlit(cb.flatten), lit(m), lit(dsub)).as("nc"),
      array(litCodes: _*).as("lc"),
      call_function("graft_pq_adc",
        call_function("graft_pq_encode", emb, typedlit(cb.flatten), lit(m), lit(dsub)),
        typedlit(qd), lit(k)).as("na"),
      litAdc.as("la"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), s"codes diverge: $r")
      assert(r.getDouble(2) == r.getDouble(3), s"adc diverges: $r")
    }
  }

  test("graft_pq_encode fails loudly on null elements (no silent mis-code)") {
    GraftFunctions.register(spark)
    val goodTail: Seq[java.lang.Double] = (1 until 64).map(i => java.lang.Double.valueOf(i * 0.01))
    val withNull: Seq[java.lang.Double] = null.asInstanceOf[java.lang.Double] +: goodTail
    val bad = Seq((1L, withNull)).toDF("id", "emb")
    val cb = prand(1, 2 * 64)
    val e = intercept[Exception] {
      bad.select(call_function("graft_pq_encode",
        col("emb"), typedlit(cb), lit(4), lit(16))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null element")))
  }

  test("graft_quality_score == composed unigram∪bigram bucket-weight mean; codegen-only") {
    GraftFunctions.register(spark)
    val weights = graft.queries.PipelineQueries.qualityLexiconWeights
    val b = weights.length
    // composed portable twin: explode unigram + bigram hashes, bucket,
    // look the weight up from a literal map frame, average per doc —
    // the formulation the DuckDB oracle mirrors
    val wDf = weights.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toSeq.toDF("bucket", "w")
    val feats = df.select(col("doc_id"),
        explode(concat(
          call_function("graft_shingle_hashes", col("text"), lit(1)),
          call_function("graft_shingle_hashes", col("text"), lit(2)))).as("g"))
      .select(col("doc_id"), pmod(col("g"), lit(b.toLong)).as("bucket"))
    val composed = feats.join(wDf, Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")) / count(lit(1)), 6).as("expect"))
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = df.select(col("doc_id"),
        call_function("graft_quality_score", col("text"),
          typedlit(weights), lit(0.0), lit(2)).as("logit6"))
      val cmp = got.join(composed, Seq("doc_id"), "left").collect()
      assert(cmp.length == texts.length)
      cmp.foreach { r =>
        val logit = Option(r.get(1)).map(_.asInstanceOf[Double])
        val expect = Option(r.get(2)).map(_.asInstanceOf[Double])
        assert(logit == expect, s"doc ${r.get(0)}: got $logit expected $expect")
      }
      // zero-feature inputs (blank / spaces-only) score null; null in
      // → null out
      val nullish = Seq((1L, ""), (2L, "   "), (3L, null)).toDF("doc_id", "text")
        .select(call_function("graft_quality_score", col("text"),
          typedlit(weights), lit(0.0), lit(2)).as("s")).collect()
      assert(nullish.forall(_.isNullAt(0)))
      // a nonzero bias shifts every logit by exactly that bias pre-round
      val biased = df.where(length(trim(col("text"))) > 0)
        .select(
          call_function("graft_quality_score", col("text"),
            typedlit(weights), lit(0.0), lit(2)).as("s0"),
          call_function("graft_quality_score", col("text"),
            typedlit(weights), lit(2.0), lit(2)).as("s2")).collect()
      biased.foreach { r =>
        assert(math.abs(r.getDouble(1) - r.getDouble(0) - 2.0) < 1e-9)
      }
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("LevenshteinLengthBound: rewrite fires, banded form is value-equivalent") {
    import org.apache.spark.sql.catalyst.expressions.{Levenshtein => CatLev}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    GraftFunctions.register(spark)
    // the banded builtin's contract the rewrite relies on
    assert(spark.sql("SELECT levenshtein('abc', 'xyz', 1)").head.getInt(0) == -1)
    assert(spark.sql("SELECT levenshtein('abc', 'abd', 1)").head.getInt(0) == 1)
    // parquet round-trip: a LocalRelation would be constant-folded
    // before the optimizer batch the rule runs in, leaving no Filter
    // node to rewrite (or observe)
    val dir = java.nio.file.Files.createTempDirectory("levbound").toString
    Seq(
      ("a", "red widget", "red wdget"),   // dist 1: keep
      ("b", "red widget", "blue gadget"), // far: drop
      ("c", "same", "same"),              // dist 0: keep
      ("d", "x", "xxxxxx"),               // length gap 5 > 2: O(1) reject
      ("e", null, "abc"),                 // null: drop (null semantics)
      ("f", "", "ab"))                    // dist 2: keep
      .toDF("id", "a", "b")
      .write.mode("overwrite").parquet(s"$dir/rows")
    val rows = spark.read.parquet(s"$dir/rows")
    // both operator shapes: direct int compare and the .cast("long")
    // form blockedEditDistance uses
    val direct = rows.where(levenshtein(col("a"), col("b")) <= 2)
    val casted = rows.where(levenshtein(col("a"), col("b")).cast("long") <= lit(2L))
    for (df <- Seq(direct, casted)) {
      val fired = df.queryExecution.optimizedPlan.collect {
        case f: LFilter => f.condition.collect {
          case l: CatLev if l.threshold.isDefined => l
        }.nonEmpty
      }.exists(identity)
      assert(fired, s"rewrite did not fire:\n${df.queryExecution.optimizedPlan}")
      assert(df.select("id").as[String].collect().toSet == Set("a", "c", "f"))
    }
    // value-equivalence against the same filter with the rule removed
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Seq()
      val plain = rows.where(levenshtein(col("a"), col("b")) <= 2)
        .select("id").as[String].collect().toSet
      assert(plain == Set("a", "c", "f"))
    } finally spark.experimental.extraOptimizations = saved
  }

  test("graft_jaro_winkler: pinned edge semantics + classic values; codegen-only") {
    GraftFunctions.register(spark)
    // the DuckDB-verified pin set (values read off DuckDB
    // jaro_winkler_similarity directly — see JaroWinklerSim scaladoc)
    val cases = Seq(
      ("", "", 0.0), ("a", "", 0.0), ("abc", "abc", 1.0),
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("dwayne", "duane", 0.8400000000000001),
      ("ab", "ba", 0.0),                      // window 0 at length 2
      ("aaa", "aaahhh", 0.8833333333333334),  // prefix boost applied
      ("crate", "trace", 0.7333333333333334), // l=0: boost is a no-op
      ("prefixmatch", "prefixxxxxx", 0.6969696969696969), // jaro<=0.7: NO boost
      ("aabb", "bbaa", 0.5))
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
        .select(col("a"), col("b"),
          call_function("graft_jaro_winkler", col("a"), col("b")).as("jw"))
        .collect()
      got.zip(cases).foreach { case (r, (a, b, want)) =>
        assert(r.getDouble(2) == want,
          s"jw('$a','$b'): got ${r.getDouble(2)} want $want (bitwise)")
      }
      // null in -> null out; symmetry
      val sym = Seq(("martha", "marhta"), ("dixon", "dicksonx")).toDF("a", "b")
        .select(
          call_function("graft_jaro_winkler", col("a"), col("b")).as("ab"),
          call_function("graft_jaro_winkler", col("b"), col("a")).as("ba"))
        .collect()
      sym.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
      val n = Seq((null.asInstanceOf[String], "x")).toDF("a", "b")
        .select(call_function("graft_jaro_winkler", col("a"), col("b"))).collect()
      assert(n.head.isNullAt(0))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("PQ at production size (m=64, k=256) compiles with codegen fallback disabled") {
    // the literal-chain formulation could NOT pass this test: 64·256·4
    // add/multiply terms in one generated method trips Janino's 64KB
    // limit and Spark silently drops to interpreted eval. The native
    // kernel's generated code is O(1) in m·k — prove it by forbidding
    // the fallback entirely for the duration of this test.
    GraftFunctions.register(spark)
    val m = 64; val dsub = 4; val dim = m * dsub; val k = 256
    val corpus = (0 until 300).map(i => (i.toLong, prand(7000 + i, dim)))
    val seeds = (0 until k).map(c => (c.toLong, prand(8000 + c, dim)))
    val query = Seq((9999L, prand(9000, dim)))
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = graft.similarity.Similarity.pqEncodeAdc(
        corpus.toDF("vec_id", "embedding"),
        seeds.toDF("vec_id", "embedding"),
        query.toDF("vec_id", "embedding"), m = m, dsub = dsub).collect()
      assert(r.length == 300)
      r.foreach { row =>
        (1 to m).foreach { j =>
          val c = row.getInt(j)
          assert(c >= 0 && c < k, s"code out of range: $c")
        }
        val adc = row.getDouble(m + 1)
        assert(!adc.isNaN && !adc.isInfinite && adc >= 0.0)
      }
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("bloom kernel: zero false negatives, fpp-bounded positives, build==probe arithmetic") {
    import graft.functions.BloomKernel
    // build a filter over 10k member grams via the same positions
    // function the DataFrame build path explodes through
    val members = (0 until 10000).map(i => i.toLong * 2654435761L)
    val bitsPerGram = 12
    val nWords = ((members.size.toLong * bitsPerGram + 63) / 64).toInt
    val mBits = nWords.toLong * 64L
    val k = math.round(bitsPerGram * math.log(2.0)).toInt
    val words = new Array[Long](nWords)
    members.foreach { g =>
      val ps = BloomKernel.positions(g, mBits, k)
      (0 until k).foreach { i =>
        val p = ps.getLong(i)
        words((p >>> 6).toInt) |= 1L << (p & 63L).toInt
      }
    }
    // no false negatives, ever
    assert(members.forall(g => BloomKernel.contains(g, words, k)))
    // false positives bounded: fpp ~ 0.6185^12 ~ 0.3%; assert < 2%
    val nonMembers = (0 until 10000).map(i => i.toLong * 40503L + 7L)
      .filterNot(members.toSet)
    val fp = nonMembers.count(g => BloomKernel.contains(g, words, k))
    assert(fp.toDouble / nonMembers.size < 0.02, s"fp rate ${fp}/${nonMembers.size}")
  }

  test("mergeBloomWords: union filter contains both sides; geometry mismatch refuses") {
    import graft.functions.BloomKernel
    val k = 8
    val nWords = 64
    val mBits = nWords.toLong * 64L
    def build(grams: Seq[Long]): Array[Long] = {
      val w = new Array[Long](nWords)
      grams.foreach { g =>
        val ps = BloomKernel.positions(g, mBits, k)
        (0 until k).foreach { i =>
          val p = ps.getLong(i); w((p >>> 6).toInt) |= 1L << (p & 63L).toInt
        }
      }
      w
    }
    val setA = (0 until 100).map(i => i.toLong * 7919L)
    val setB = (0 until 100).map(i => i.toLong * 104729L + 3L)
    val (merged, mk) = Dedup.mergeBloomWords((build(setA), k), (build(setB), k))
    assert(mk == k)
    assert((setA ++ setB).forall(g => BloomKernel.contains(g, merged, mk)))
    // OR of the word arrays == a filter built over the union
    assert(merged.sameElements(build(setA ++ setB)))
    // word-count AND k mismatches both refuse
    val e = intercept[IllegalArgumentException] {
      Dedup.mergeBloomWords((new Array[Long](64), k), (new Array[Long](32), k))
    }
    assert(e.getMessage.contains("geometry"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.mergeBloomWords((new Array[Long](64), 8), (new Array[Long](64), 6))
    }
    assert(e2.getMessage.contains("geometry"))
  }

  test("bloomDecontaminate == decontaminate exactly; oversized bitset refuses loudly") {
    val d = (0L until 60L).map { i =>
      (i, if (i % 7 == 3) s"shared benchmark phrase number ${i % 14} body"
          else s"unique corpus document $i with its own words entirely")
    }.toDF("doc_id", "text")
    val corpus = d.where(col("doc_id") % 5 =!= 0)
    val bench = d.where(col("doc_id") % 5 === 0)
    val exact = Dedup.decontaminate(corpus, bench)
      .orderBy("doc_id").collect().toSeq
    val bloom = Dedup.bloomDecontaminate(corpus, bench)
      .orderBy("doc_id").collect().toSeq
    assert(bloom == exact) // FPs die in the confirm join: outputs identical
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomDecontaminate(corpus, bench, maxBloomWords = 1L)
    }
    assert(e.getMessage.contains("maxBloomWords"))
  }
}
