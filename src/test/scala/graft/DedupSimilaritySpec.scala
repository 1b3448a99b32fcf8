package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Similarity

class DedupSimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today"
  private val nearDup = base.replace("today", "tonight")
  private val other = "completely different content with no overlap whatsoever in any shingle"

  private def docs = Seq(
    (0L, base), (1L, nearDup), (2L, other), (3L, base)
  ).toDF("doc_id", "text")

  test("exact dedup clusters identical normalized text") {
    val r = Dedup.exactDedup(docs).collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(r(3L) == 0L && r(0L) == 0L)
    assert(r(1L) == 1L && r(2L) == 2L)
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("exact n-gram jaccard: identical docs at 1.0, near-dups high") {
    val r = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    assert(r((0L, 3L)) == 1.0)
    assert(r((0L, 1L)) > 0.5 && r((0L, 1L)) < 1.0)
    assert(!r.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("containment: short doc inside a long one is flagged one-directionally; Jaccard misses it") {
    import org.apache.spark.sql.functions.col
    val longText = (1 to 40).map(i => s"w$i").mkString(" ")
    val shortText = (1 to 10).map(i => s"w$i").mkString(" ")  // fully contained prefix
    val cdocs = Seq(
      (1L, longText), (2L, shortText),
      (3L, "totally different unrelated words making another document here")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(cdocs, threshold = 0.8)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    // doc 2's shingles ⊂ doc 1's → C(2→1) = 1.0; the reverse is far
    // below threshold; doc 3 pairs with nothing
    assert(cont((2L, 1L)) == 1.0)
    assert(!cont.contains((1L, 2L)))
    assert(!cont.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // the symmetric pass misses exactly this pair: J = 8/38 ≈ 0.21
    val jac = Dedup.ngramJaccardPairs(cdocs, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)) && !jac.contains((2L, 1L)))
  }

  test("simhash: identical docs collide at hamming 0") {
    val pairs = Dedup.simhashNearDups(docs, maxHamming = 3)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(pairs((0L, 3L)) == 0L)
  }

  test("simhash banding is exact past hamming 3 (adversarial one-flip-per-band spread)") {
    def flip(l: Long, h: Long, bits: Seq[Int]): (Long, Long) =
      bits.foldLeft((l, h)) { case ((a, b), i) =>
        if (i < 32) (a ^ (1L << i), b) else (a, b ^ (1L << (i - 32)))
      }
    val (lo, hi) = (0x12345678L, 0x9abcdef0L & 0xffffffffL)
    // hamming 4 with one flip in EACH 16-bit band: the fixed-4-band
    // layout had no clean band and silently missed this pair
    val (lo4, hi4) = flip(lo, hi, Seq(3, 17, 35, 51))
    val got4 = Dedup.simhashNearDupsFromSigs(
        Seq((0L, lo, hi), (1L, lo4, hi4)).toDF("doc_id", "lo", "hi"), maxHamming = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got4 == Seq((0L, 1L, 4L)))
    // hamming 7 spread over 7 of the 8 8-bit bands
    val (lo7, hi7) = flip(lo, hi, Seq(0, 8, 16, 24, 32, 40, 48))
    val got7 = Dedup.simhashNearDupsFromSigs(
        Seq((0L, lo, hi), (1L, lo7, hi7)).toDF("doc_id", "lo", "hi"), maxHamming = 7)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got7 == Seq((0L, 1L, 7L)))
  }

  test("simhash exactness property: every planted pair at hamming ≤ k is found") {
    val rnd = new scala.util.Random(7)
    val k = 6 // bands of 8 bits: exact to hamming 7
    val planted = (0 until 12).map { i =>
      val lo = rnd.nextInt().toLong & 0xffffffffL
      val hi = rnd.nextInt().toLong & 0xffffffffL
      val flips = rnd.shuffle((0 until 64).toList).take(1 + rnd.nextInt(k))
      val (lo2, hi2) = flips.foldLeft((lo, hi)) { case ((a, b), j) =>
        if (j < 32) (a ^ (1L << j), b) else (a, b ^ (1L << (j - 32)))
      }
      (2L * i, lo, hi, 2L * i + 1, lo2, hi2, flips.length.toLong)
    }
    val sigs = planted.flatMap(p => Seq((p._1, p._2, p._3), (p._4, p._5, p._6)))
      .toDF("doc_id", "lo", "hi")
    val got = Dedup.simhashNearDupsFromSigs(sigs, maxHamming = k)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    planted.foreach { p =>
      assert(got.get((p._1, p._4)).contains(p._7),
        s"missed planted pair ${(p._1, p._4)} at hamming ${p._7}")
    }
    assert(got.values.forall(_ <= k))
  }

  test("cross-corpus dedup flags incoming near-dups against the corpus only") {
    val corpus = Seq((0L, base), (1L, other), (2L, base)).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, nearDup),       // near-dup of corpus docs 0 and 2
      (11L, other),         // EXACT dup of corpus doc 1
      (12L, "totally novel words that share no shingle with anything else here"),
      (13L, "too short")    // < 3 tokens: no shingles, must still get a row
    ).toDF("doc_id", "text")
    val r = Dedup.crossCorpusNearDups(corpus, incoming, threshold = 0.6)
      .orderBy("doc_id")
      .collect().map(x => (x.getLong(0),
        (x.getLong(1), if (x.isNullAt(2)) -1L else x.getLong(2), x.getBoolean(4)))).toMap
    assert(r(10L) == ((2L, 0L, true)))  // both copies match; best = lowest id on the tie
    assert(r(11L) == ((1L, 1L, true)))
    assert(r(12L) == ((0L, -1L, false)))
    assert(r(13L) == ((0L, -1L, false)))
    // exact dup carries jaccard 1.0
    val j11 = Dedup.crossCorpusNearDups(corpus, incoming, threshold = 0.6)
      .where(col("doc_id") === 11L).select("best_jaccard").as[Double].head()
    assert(j11 == 1.0)
  }

  test("cross-corpus dedup agrees with within-corpus minhash on the cross pairs") {
    val corpus = docs.where(col("doc_id") =!= 1L)
    val incoming = Seq((1L, nearDup), (9L, "zebra xylophone quartz jolt vexing")).toDF("doc_id", "text")
    val crossPairs = Dedup.minhashNearDups(docs.unionByName(Seq((9L, "zebra xylophone quartz jolt vexing")).toDF("doc_id", "text")), threshold = 0.6)
      .where((col("doc_a").isin(1L, 9L)) =!= (col("doc_b").isin(1L, 9L)))
      .select(when(col("doc_a").isin(1L, 9L), col("doc_a")).otherwise(col("doc_b")).as("inc"),
        when(col("doc_a").isin(1L, 9L), col("doc_b")).otherwise(col("doc_a")).as("m"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val got = Dedup.crossCorpusNearDups(corpus, incoming, threshold = 0.6)
      .select("doc_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(got(1L) == crossPairs.getOrElse(1L, 0L))
    assert(got(9L) == crossPairs.getOrElse(9L, 0L))
  }

  test("minhash estimate: exact dups at 12/12, near-dups pass the screen, unrelated absent") {
    val r = Dedup.minhashEstimatePairs(docs, minEq = 6)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getDouble(3)))).toMap
    // identical docs agree on every component
    assert(r((0L, 3L)) == ((12L, 1.0)))
    // the planted near-dup shares most shingles → most components
    assert(r.contains((0L, 1L)) && r((0L, 1L))._1 >= 6L)
    // est_jaccard is exactly n_eq/12 rounded to 6dp
    r.values.foreach { case (nEq, est) =>
      assert(est == BigDecimal(nEq / 12.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(!r.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("cross-corpus dedup refuses an oversized incoming side loudly") {
    val corpus = Seq((0L, base), (1L, other)).toDF("doc_id", "text")
    val incoming = Seq((10L, nearDup), (11L, other), (12L, base)).toDF("doc_id", "text")
    // 3 incoming docs × 4 bands = 12 broadcast rows > limit 8
    val e = intercept[IllegalArgumentException] {
      Dedup.crossCorpusNearDups(corpus, incoming, threshold = 0.6, maxBroadcastRows = 8L)
    }
    assert(e.getMessage.contains("broadcasts the INCOMING side"))
    assert(e.getMessage.contains("maxBroadcastRows=8"))
  }

  test("cross-corpus dedup candidate-overflow fallback matches the broadcast plan") {
    // every corpus doc shares text with the incoming docs → dense band
    // collisions; limit sized so the incoming side passes (2 docs × 4
    // bands = 8 ≤ 20) but the candidate set (2 incoming × 10 corpus
    // matches = 20-ish distinct pairs... forced over via a tiny limit
    // between the two counts) trips the shuffle-join fallback
    val corpus = (0L until 10L).map(i => (i, if (i % 2 == 0) base else nearDup))
      .toDF("doc_id", "text")
    val incoming = Seq((100L, base), (101L, nearDup)).toDF("doc_id", "text")
    val broadcastPlan = Dedup.crossCorpusNearDups(corpus, incoming, threshold = 0.6)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val fallbackPlan = Dedup.crossCorpusNearDups(
        corpus, incoming, threshold = 0.6, maxBroadcastRows = 10L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(broadcastPlan == fallbackPlan)
    assert(broadcastPlan.nonEmpty)
  }

  test("decontaminate: counts distinct shared 3-grams against the benchmark set") {
    val corpus = Seq(
      (0L, base),          // same text as the benchmark doc: all grams shared
      (1L, nearDup),       // differs only in the last token: only the final gram changes
      (2L, other),         // disjoint vocabulary
      (3L, "too short")    // < 3 tokens: zero grams
    ).toDF("doc_id", "text")
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val r = Dedup.decontaminate(corpus, bench).orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect().toSeq
    val nGrams = base.trim.split("\\s+").length - 2
    assert(r == Seq(
      (0L, nGrams.toLong, true), (1L, nGrams.toLong - 1, true),
      (2L, 0L, false), (3L, 0L, false)))
    // minHits above the overlap clears the flag
    val strict = Dedup.decontaminate(corpus, bench, minHits = nGrams + 1L)
      .where(col("contaminated")).count()
    assert(strict == 0L)
  }

  test("cross-operator: minhash-LSH results ⊆ exact prefix-filter join; both find planted dups") {
    import graft.sources.Tables
    val d = Tables.read(spark, "/root/testdata/sf0.01", "documents")
    val exact = Dedup.ngramJaccardPairs(d, threshold = 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDups(d, threshold = 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // LSH verifies the same exact Jaccard, so it can only miss, never add
    assert(lsh.subsetOf(exact), s"LSH produced pairs the exact join lacks: ${lsh -- exact}")
    // at J≈0.98 a 4-band/3-row scheme collides with prob ≈ 1-5e-5:
    // every planted pair must be recalled on this data
    assert(lsh == exact, s"LSH missed planted pairs: ${exact -- lsh}")
    assert(exact.nonEmpty)
  }

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine with id tie-break") {
    val r = Similarity.bruteForceTopK(vecs.where(col("vec_id") === 0), vecs, k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(r == Seq(1L, 2L)) // 2 and 3 tie at cos 0 → lower id wins
  }

  test("embedding near-dup pairs above threshold") {
    val r = Similarity.nearDupPairs(vecs, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(r == Set((0L, 1L)))
  }

  test("blocked exact pair scan is block-count invariant (1 block ≡ naive all-pairs)") {
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    def pairs(blocks: Int) = {
      val rows = Similarity.nearDupPairs(e, threshold = 0.45, blocks = blocks)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      val m = rows.toMap
      // a .toMap alone would silently collapse duplicate (id_a, id_b)
      // rows — the no-duplicate-emission property must fail loudly
      assert(rows.length == m.size, s"blocks=$blocks emitted duplicate pairs")
      m
    }
    val single = pairs(1) // one diagonal chunk-pair = the naive formulation
    val blocked = pairs(7) // 28 chunk pairs, ids split across chunks
    assert(single.nonEmpty)
    assert(blocked == single)
  }

  test("lsh near-dup pairs ⊆ exact pairs with identical verified cosines") {
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    val exact = Similarity.nearDupPairs(e, threshold = 0.45)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.lshNearDupPairs(e, threshold = 0.45, bits = 6, bands = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(lsh.nonEmpty, "LSH recalled nothing on driver data")
    assert(lsh.keySet.subsetOf(exact.keySet),
      s"LSH emitted pairs the exact scan lacks: ${lsh.keySet -- exact.keySet}")
    lsh.foreach { case (k, cos) => assert(cos == exact(k), s"cos mismatch at $k") }
  }

  test("multi-probe lsh: superset of banded lsh, subset of exact, same cosines") {
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    val exact = Similarity.nearDupPairs(e, threshold = 0.45)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val plain = Similarity.lshNearDupPairs(e, threshold = 0.45, bits = 6, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = Similarity.lshNearDupPairsMultiProbe(
        e, threshold = 0.45, bits = 6, bands = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // probing can only add candidates over the banded path...
    assert(plain.subsetOf(probed.keySet),
      s"multi-probe lost banded pairs: ${plain -- probed.keySet}")
    // ...and the exact verify keeps every emitted pair true
    assert(probed.keySet.subsetOf(exact.keySet),
      s"multi-probe emitted pairs the exact scan lacks: ${probed.keySet -- exact.keySet}")
    probed.foreach { case (k, cos) => assert(cos == exact(k), s"cos mismatch at $k") }
    // at the non-separable 0.45 calibration, hamming-1 probing must
    // strictly improve recall (banded recalls 10/14 on this data)
    assert(probed.size > plain.size,
      s"probing added no recall: ${probed.size} vs ${plain.size}")
    // radius 2 widens the ring: ⊇ radius 1, still ⊆ exact, same cosines
    val r2 = Similarity.lshNearDupPairsMultiProbe(
        e, threshold = 0.45, bits = 6, bands = 16, probeRadius = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(probed.keySet.subsetOf(r2.keySet),
      s"radius 2 lost radius-1 pairs: ${probed.keySet -- r2.keySet}")
    assert(r2.keySet.subsetOf(exact.keySet),
      s"radius 2 emitted pairs the exact scan lacks: ${r2.keySet -- exact.keySet}")
    r2.foreach { case (k, cos) => assert(cos == exact(k), s"cos mismatch at $k") }
  }

  test("argmax assignment ≡ the top-1 window it replaced (ties, NaN included)") {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    def vec(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      Seq.fill(8)(r.nextDouble() * 2 - 1)
    }
    val corpus = ((0 until 40).map(i => (i.toLong, vec(i))) :+
      // a NaN vector: every centroid dot is NaN — both formulations
      // must deterministically pick the lowest cid
      (99L, Seq.fill(8)(Double.NaN))).toDF("vec_id", "emb")
    // cids 3 and 7 share one embedding: an EXACT cosine tie — the
    // (cos DESC, cid ASC) rule must pick cid 3 in both formulations
    val cent = Seq((3L, vec(1003)), (7L, vec(1003)), (5L, vec(1005)), (9L, vec(1009)))
      .toDF("cid", "cent_emb")
    val viaAgg = Similarity.argmaxAssign(corpus, cent, "vec_id", "emb")
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("cid"))
    val viaWindow = corpus.crossJoin(cent)
      .withColumn("cos_c", Similarity.fastDot(col("emb"), col("cent_emb")))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(viaAgg == viaWindow)
    assert(viaAgg.size == 41)
    // the tie winner is the LOWEST cid of the duplicate pair
    assert(!viaAgg.values.exists(_ == 7L))
    assert(viaAgg(99L) == 3L) // NaN row: all-NaN cos → lowest cid
  }

  test("wrong-dim embeddings fail loudly on every banding entry point") {
    import graft.sources.Tables
    // 65 components against dim=64: graft_dot would silently truncate;
    // the kernel (and the composed parity path) must throw instead
    val bad = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"),
        concat(col("embedding"), array(lit(0.5f))).as("embedding"))
    val e1 = intercept[Exception] {
      Similarity.lshNearDupPairs(bad, threshold = 0.45, bits = 6, bands = 16).count()
    }
    assert(e1.getMessage.contains("embedding length") ||
      Option(e1.getCause).exists(_.getMessage.contains("embedding length")), e1.getMessage)
    val e2 = intercept[Exception] {
      Similarity.lshNearDupPairsAdaptive(bad, threshold = 0.45, bits = 6, bands = 16).count()
    }
    assert(e2.getMessage.contains("embedding length") ||
      Option(e2.getCause).exists(_.getMessage.contains("embedding length")), e2.getMessage)
    val e3 = intercept[Exception] {
      // collect, not count: count() would column-prune the guarded
      // projection away and the guard must sit in the evaluated path
      Similarity.signBandsComposed(
        Similarity.normalized(bad, "id", "emb"), bits = 6, bands = 16, dim = 64).collect()
    }
    assert(e3.getMessage.contains("embedding length") ||
      Option(e3.getCause).exists(_.getMessage.contains("embedding length")), e3.getMessage)
  }

  test("sign-margin assertion: driver data clears the boundary, absurd eps trips it") {
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    // the gate calibration must hold with the default eps
    Similarity.assertSignMargin(e, bits = 6, bands = 16, dim = 64)
    // and the check itself must be live: an impossible margin demand fails
    val ex = intercept[IllegalStateException] {
      Similarity.assertSignMargin(e, bits = 6, bands = 16, dim = 64, eps = 1e9)
    }
    assert(ex.getMessage.contains("sign-LSH margin"))
  }

  test("adaptive probing: between banded and radius-1; probes=bits degenerates to radius-1") {
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    val exact = Similarity.nearDupPairs(e, threshold = 0.45)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val banded = Similarity.lshNearDupPairs(e, threshold = 0.45, bits = 6, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = Similarity.lshNearDupPairsMultiProbe(e, threshold = 0.45, bits = 6, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adaptive = Similarity.lshNearDupPairsAdaptive(
        e, threshold = 0.45, bits = 6, bands = 16, probes = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // banded ⊆ adaptive ⊆ radius-1 ⊆ exact, with exact cosines
    assert(banded.subsetOf(adaptive.keySet),
      s"adaptive lost banded pairs: ${banded -- adaptive.keySet}")
    assert(adaptive.keySet.subsetOf(r1),
      s"adaptive emitted pairs radius-1 lacks: ${adaptive.keySet -- r1}")
    assert(adaptive.keySet.subsetOf(exact.keySet))
    adaptive.foreach { case (k, cos) => assert(cos == exact(k), s"cos mismatch at $k") }
    // probing every bit IS radius-1 multi-probe
    val full = Similarity.lshNearDupPairsAdaptive(
        e, threshold = 0.45, bits = 6, bands = 16, probes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == r1, s"probes=bits != radius-1: ${(full -- r1) ++ (r1 -- full)}")
  }

  test("int8 quantize: crafted codes, zero-vector guard, half-step error bound") {
    val e = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8Stats(e)
      .select("vec_id", "scale6", "q_sum", "q_min", "q_max", "max_err6")
      .as[(Long, Double, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // absmax 1.0: q = [127, floor(-63.5+0.5)=-63, floor(31.75+0.5)=32, 0]
    val (_, s1, qsum1, qmin1, qmax1, err1) = r(0)
    assert(s1 == math.rint(1.0 / 127.0 * 1e6) / 1e6 || math.abs(s1 - 1.0 / 127.0) < 1e-6)
    assert(qsum1 == 127L - 63L + 32L)
    assert(qmin1 == -63L && qmax1 == 127L)
    assert(err1 <= 0.5 / 127.0 + 1e-6, s"error above half step: $err1")
    // zero vector: scale 0, all codes 0, zero error
    assert(r(1) == ((2L, 0.0, 0L, 0L, 0L, 0.0)))
    // real embeddings: codes within int8 range, error within half a step
    val real = Similarity.quantizeInt8Stats(
        graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings"))
      .select("scale6", "q_min", "q_max", "max_err6")
      .as[(Double, Long, Long, Double)].collect()
    assert(real.nonEmpty)
    real.foreach { case (s, qmin, qmax, err) =>
      assert(qmin >= -127L && qmax <= 127L)
      assert(err <= s / 2 + 1e-6, s"error $err above half step $s")
    }
  }

  test("lsh hyperplanes are the pinned md5-parity derivation") {
    // golden from python hashlib: ±1 by parity of md5("k:d")[0]
    assert(Similarity.lshPlane(0, 16) == Seq(
      1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0,
      1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0))
    assert(Similarity.lshPlane(95, 8) == Seq(1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0))
  }

  test("kmeans centroids: deterministic, unit-norm, improve IVF recall") {
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    val seeds = e.where(col("vec_id") % 25 === 0)
    val c1 = Similarity.kmeansCentroids(e, seeds, iters = 2).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val c2 = Similarity.kmeansCentroids(e, seeds, iters = 2).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(c1 == c2) // bit-reproducible across runs
    c1.values.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-3) // unit norm (rounded components)
    }
    // trained-IVF recall vs brute force at least matches fixed-seed IVF
    import spark.implicits._
    val queries = e.where(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(queries, e, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val trained = Similarity.kmeansCentroids(e, seeds, iters = 2)
    val ivf = Similarity.ivfTopK(queries, e, trained, 5, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall > 0.3, s"trained-IVF recall too low: $recall")
  }

  test("kmeans centroids: a null embedding fails the dimension check by name") {
    val corpus = vecs.union(Seq((5L, null: Array[Float])).toDF("vec_id", "embedding"))
    val seeds = vecs.where(col("vec_id").isin(0L, 2L))
    val err = intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(corpus, seeds, iters = 1)
    }
    assert(err.getMessage.contains("must all have the seed dimension 3"), err.getMessage)
    assert(err.getMessage.contains("-1 = null embedding"), err.getMessage)
  }

  test("IVF with all points as centroids reproduces brute force") {
    val bf = Similarity.bruteForceTopK(vecs.where(col("vec_id") === 0), vecs, k = 2)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(vecs.where(col("vec_id") === 0), vecs, vecs, k = 2,
        nProbe = 5)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSet
    assert(ivf == bf)
  }

  test("hard negatives: mismatch filter applies BEFORE top-k, labels carried") {
    // same-label v1 is the NEAREST neighbor of q=v0 — a post-filter on
    // ivfTopK(k=2) would keep only one row; the mining operator must
    // still return k=2 hard negatives (v2 then v3)
    val lv = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f, 0.0f), 0),  // same-label crowd-out
      (2L, Array(0.9f, 0.2f, 0.0f), 1),
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(-1.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val q = lv.where(col("vec_id") === 0)
    val hn = Similarity.ivfHardNegatives(q, lv, centroids = lv, k = 2, nProbe = 5)
      .orderBy("rank")
      .select("neighbor_id", "n_label", "q_label").as[(Long, Int, Int)]
      .collect().toSeq
    assert(hn == Seq((2L, 1, 0), (3L, 1, 0)))
    // the naive compose returns fewer than k — the reason this is an
    // operator, not a filter on ivfTopK's output
    val naive = Similarity.ivfTopK(q, lv, centroids = lv, k = 2, nProbe = 5)
      .join(lv.select(col("vec_id").as("neighbor_id"), col("label")), Seq("neighbor_id"))
      .where(col("label") =!= 0)
    assert(naive.count() == 1)
  }

  test("hard negatives: IVF with all points as centroids reproduces the exact scan") {
    val lv = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f, 0.0f), 0),
      (2L, Array(0.9f, 0.2f, 0.0f), 1),
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(-1.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val q = lv.where(col("vec_id") === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("neighbor_id", "rank", "cos").as[(Long, Long, Double)].collect().toSet
    val exact = rows(Similarity.bruteForceHardNegatives(q, lv, k = 2))
    val ivf = rows(Similarity.ivfHardNegatives(q, lv, centroids = lv, k = 2, nProbe = 5))
    assert(ivf == exact && exact.nonEmpty)
  }

  test("hard negatives: plan adds no exchanges or joins over the s2 chain") {
    // the SCALE_NOTES claim, asserted: labels ride as carried struct
    // fields, so hn1's physical plan has exactly s2's exchange/join
    // structure — any regression to a label re-attach join fails here
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 3)
    val cents = e.where(col("vec_id") % 25 === 0)
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val s = df.queryExecution.executedPlan.toString
      ("Exchange".r.findAllIn(s).size, "Join".r.findAllIn(s).size)
    }
    val s2Shape = shape(Similarity.ivfTopK(q, e, cents, k = 5, nProbe = 3))
    val hnShape = shape(Similarity.ivfHardNegatives(q, e, cents, k = 5, nProbe = 3))
    assert(hnShape == s2Shape,
      s"hard-negative plan grew beyond the s2 chain: $hnShape vs $s2Shape")
  }

  test("shared normalized-corpus checkpoint: prenorm path row-identical to per-operator barriers") {
    // the r21 §1.2 optimization: queries composing two similarity
    // operators over ONE corpus share a single normalized+barriered
    // frame instead of each operator paying its own normalize pass.
    // Row equality pins the claim that the shared frame changes
    // nothing — same expression, same rows, one checkpoint.
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val seeds = e.where(col("vec_id") % 25 === 0)
    val q = e.where(col("vec_id") < 20)
    // sorted sequences, not sets: a duplicated or dropped row must fail
    def rs(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq.sorted

    val vn = Similarity.normalizedCorpus(e)
    // s3 composition: train + search
    val trainedPlain = Similarity.kmeansCentroids(e, seeds, iters = 2)
    val trainedPre = Similarity.kmeansCentroids(e, seeds, iters = 2, prenorm = Some(vn))
    assert(rs(trainedPlain) == rs(trainedPre))
    assert(rs(Similarity.ivfTopK(q, e, trainedPlain, k = 5, nProbe = 3)) ==
      rs(Similarity.ivfTopK(q, e, trainedPre, k = 5, nProbe = 3, prenorm = Some(vn))))
    // sd1 composition: train + semantic dedup
    assert(rs(Similarity.semDedup(e, trainedPlain, threshold = 0.45)) ==
      rs(Similarity.semDedup(e, trainedPre, threshold = 0.45, prenorm = Some(vn))))
    // rc1 exact side
    assert(rs(Similarity.bruteForceTopK(q, e, k = 5)) ==
      rs(Similarity.bruteForceTopK(q, e, k = 5, prenorm = Some(vn))))
    // rc3 composition: labeled shared frame for both miners
    val lvn = Similarity.normalizedLabeledCorpus(e)
    assert(rs(Similarity.bruteForceHardNegatives(q, e, k = 5)) ==
      rs(Similarity.bruteForceHardNegatives(q, e, k = 5, prenorm = Some(lvn))))
    assert(rs(Similarity.ivfHardNegatives(q, e, seeds, k = 5, nProbe = 3)) ==
      rs(Similarity.ivfHardNegatives(q, e, seeds, k = 5, nProbe = 3, prenorm = Some(lvn))))
  }

  test("semDedup: dups flagged within clusters only, keep-lowest-id rule") {
    // two well-separated clusters; v6/v7 are near-dups of EACH OTHER
    // (cos ≈ 0.999) but land in different cells — SemDeDup by design
    // does not compare across clusters, so neither is flagged
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f, 0.0f)),  // dup of 1 (cluster A)
      (3L, Array(0.8f, 0.6f, 0.0f, 0.0f)),     // cluster A, cos(1,3) = 0.8
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (5L, Array(0.01f, 0.999f, 0.0f, 0.0f)),  // dup of 4 (cluster B)
      (6L, Array(0.03f, 0.02f, 0.999f, 0.0f)), // cluster A (0.03 > 0.02)
      (7L, Array(0.02f, 0.03f, 0.999f, 0.0f))  // cluster B; cos(6,7) ≈ 0.999
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.semDedup(corpus, cents, threshold = 0.95)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3))))
      .toMap
    assert(r.size == 7)
    // cluster assignment
    assert(Seq(1L, 2L, 3L, 6L).forall(r(_)._1 == 0L))
    assert(Seq(4L, 5L, 7L).forall(r(_)._1 == 1L))
    // within-cluster dups flagged against the smaller id
    assert(r(2L) == ((0L, 1L, true)))
    assert(r(5L) == ((1L, 1L, true)))
    // cross-cluster near-dup pair NOT flagged; representatives kept
    assert(Seq(1L, 3L, 4L, 6L, 7L).forall(!r(_)._3))
  }

  test("semDedup with one cluster ≡ exact near-dup pairs (is_dup = appears as id_b)") {
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    val one = Seq((0L, Array.fill(64)(1.0f))).toDF("vec_id", "embedding")
    val sd = Similarity.semDedup(e, one, threshold = 0.45)
      .where(col("is_dup")).select("vec_id").as[Long].collect().toSet
    val exact = Similarity.nearDupPairs(e, threshold = 0.45)
      .select("id_b").as[Long].collect().toSet
    assert(sd == exact)
    assert(sd.nonEmpty)
  }

  test("chunkDedup: canonical occurrence kept, later repeats removed, empty doc safe") {
    val d = Seq(
      (1L, "a b c d e f"),   // chunks: "a b c", "d e f"
      (2L, "a b c x"),       // "a b c" repeats doc 1's; "x" unique
      (3L, "d e f d e f"),   // both chunks repeat doc 1's "d e f"
      (4L, "")               // zero chunks
    ).toDF("doc_id", "text")
    def md5s(s: String) = {
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val r = Dedup.chunkDedup(d, chunkTokens = 3).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))).toMap
    // doc 1 holds both canonical copies: dup-counted but nothing removed
    assert(r(1L) == ((2L, 2L, 0L, md5s("a b c d e f"))))
    // doc 2 loses its repeated first chunk, keeps "x"
    assert(r(2L) == ((2L, 1L, 1L, md5s("x"))))
    // doc 3 loses everything (both occurrences repeat doc 1's chunk)
    assert(r(3L) == ((2L, 2L, 2L, md5s(""))))
    // empty doc: zero chunks, digest of the empty document
    assert(r(4L) == ((0L, 0L, 0L, md5s(""))))
  }

  test("pqEncodeAdc: known codes, tie to lowest code, ADC table lookup, dim guard") {
    def vec(id: Long, v: Array[Float]) = (id, v)
    val zeros = Array.fill(64)(0.0f)
    val ones = Array.fill(64)(1.0f)
    // sub 0 near seed 1 (=ones), subs 1-3 near seed 0 (=zeros)
    val mixed = Array.tabulate(64)(i => if (i < 16) 0.9f else 0.1f)
    val half = Array.fill(64)(0.5f)
    val corpus = Seq(vec(10L, mixed), vec(11L, half))
      .toDF("vec_id", "embedding")
    val seeds = Seq(vec(0L, zeros), vec(1L, ones)).toDF("vec_id", "embedding")
    val query = Seq(vec(99L, half)).toDF("vec_id", "embedding")
    val r = graft.similarity.Similarity.pqEncodeAdc(corpus, seeds, query)
      .collect().map(x => x.getLong(0) ->
        ((x.getInt(1), x.getInt(2), x.getInt(3), x.getInt(4)), x.getDouble(5))).toMap
    // mixed: sub 0 distance 16·0.01 to ones vs 16·0.81 to zeros → code 1
    assert(r(10L)._1 == ((1, 0, 0, 0)))
    // half is EQUIDISTANT in every subspace → ties to the lowest code
    assert(r(11L)._1 == ((0, 0, 0, 0)))
    // query = half: qd = 16·0.25 = 4.0 per subspace either code → adc 16
    assert(r(10L)._2 == 16.0 && r(11L)._2 == 16.0)
    val bad = Seq((1L, Array.fill(63)(0.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      graft.similarity.Similarity.pqEncodeAdc(bad, seeds, query).collect()
    }
    assert(e.getMessage.contains("63") || e.getMessage.contains("dims"))
  }

  test("canonicalByQuality: keeps each cluster's best-quality member, doc_id tie-break") {
    val clusters = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),  // cluster 1: three members
      (4L, 4L, 2L), (5L, 4L, 2L),                // cluster 4: quality tie
      (6L, 6L, 1L)                               // singleton
    ).toDF("doc_id", "cluster_id", "cluster_size")
    val quality = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.5),           // best is doc 2, not lowest id
      (4L, 0.7), (5L, 0.7),                      // tie → lowest id (4) kept
      (6L, 0.1)
    ).toDF("doc_id", "quality6")
    val keep = Dedup.canonicalByQuality(clusters, quality)
      .where(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(keep == Set(2L, 4L, 6L))
    // every non-kept member still appears with its cluster metadata
    val all = Dedup.canonicalByQuality(clusters, quality).collect()
    assert(all.length == 6)
    // a member with no quality row fails LOUDLY instead of silently
    // vanishing (a partial quality frame could crown a worse survivor)
    val partial = quality.where(col("doc_id") =!= 2L)
    val e = intercept[Exception] {
      Dedup.canonicalByQuality(clusters, partial).collect()
    }
    assert(e.getMessage.contains("no quality score") ||
      Option(e.getCause).exists(_.getMessage.contains("no quality score")))
  }

  test("pqTopK: ranks ascend with ADC distance, nearest-to-query first") {
    import graft.sources.Tables
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val r = graft.similarity.Similarity.pqTopK(
      e, e.where(col("vec_id") < 16), e.where(col("vec_id") === 17), topK = 10)
      .select("vec_id", "adc6", "rank").as[(Long, Double, Int)].collect().toSeq
    assert(r.size == 10)
    assert(r.map(_._3).sorted == (1 to 10))
    val byRank = r.sortBy(_._3)
    assert(byRank.map(_._2) == byRank.map(_._2).sorted) // adc6 non-decreasing
    // the query's own code choice minimizes every qd term, so its ADC
    // is the global minimum (another vector sharing all 4 codes can
    // tie but not beat it)
    val q17 = r.find(_._1 == 17L)
    assert(q17.isDefined && q17.get._2 == byRank.head._2)
  }

  test("ivfAdcTopK: scores ONLY vectors in probed cells; agrees with pqTopK on them") {
    import graft.sources.Tables
    val S = graft.similarity.Similarity
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val seeds = e.where(col("vec_id") < 16)
    val query = e.where(col("vec_id") === 17)
    val cents = e.where(col("vec_id") % 25 === 0)
    val r = S.ivfAdcTopK(e, seeds, query, cents, topK = 10, nProbe = 3)
      .select("vec_id", "adc6", "rank").as[(Long, Double, Int)].collect().toSeq
    assert(r.nonEmpty && r.size <= 10)
    assert(r.map(_._3).sorted == (1 to r.size))
    // recompute the pruned id set with the library's own building
    // blocks and check containment — the prune must be REAL (some
    // corpus vectors excluded) and complete (all results from it)
    val nCorpus = e.count()
    val full = S.pqTopK(e, seeds, query, topK = nCorpus.toInt)
      .select("vec_id", "adc6").as[(Long, Double)].collect().toMap
    val resultIds = r.map(_._1).toSet
    assert(resultIds.size < nCorpus, "prune excluded nothing")
    // agreement: each returned row carries the same ADC distance the
    // unpruned scorer assigns, and ranks are consistent with adc6 asc
    r.foreach { case (id, adc, _) => assert(full(id) == adc, s"adc diverges for $id") }
    val byRank = r.sortBy(_._3).map(_._2)
    assert(byRank == byRank.sorted)
    // recall < 1 is by design, but the top-1 must come from a probed
    // cell and the query's own cell is always probed (cos(q, c_q) is
    // maximal), so vec 17 itself must appear with the global-min ADC
    assert(r.exists(x => x._1 == 17L && x._3 == 1))
  }

  test("ivfAdcResidualTopK: per-cell residual ADC; query tops its own cell; differs from raw routing") {
    import graft.sources.Tables
    val S = graft.similarity.Similarity
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val seeds = e.where(col("vec_id") < 16)
    val query = e.where(col("vec_id") === 17)
    val cents = e.where(col("vec_id") % 25 === 0)
    val r = S.ivfAdcResidualTopK(e, seeds, query, cents, topK = 10, nProbe = 3)
      .select("vec_id", "adc6", "rank").as[(Long, Double, Int)].collect().toSeq
    assert(r.nonEmpty && r.size <= 10)
    assert(r.map(_._3).sorted == (1 to r.size))
    val byRank = r.sortBy(_._3)
    assert(byRank.map(_._2) == byRank.map(_._2).sorted)
    // the query's own cell is its top probe, and there its residual
    // EQUALS the query residual — every qd term is minimal for its
    // own codes, so within that cell nothing beats vec 17. Across
    // cells other ADC tables apply, so assert on the VALUE (vec 17
    // carries the minimum adc6, possibly tied — e.g. a same-coded
    // vector in another cell), not on rank 1
    assert(r.find(_._1 == 17L).exists(_._2 == byRank.head._2))
    // residual encoding is genuinely different arithmetic from the
    // raw-vector routing form: the two operators disagree on codes
    // (compare the full code tuples over the shared survivors)
    val raw = S.ivfAdcTopK(e, seeds, query, cents, topK = 10, nProbe = 3)
      .select("vec_id", "code0", "code1", "code2", "code3")
      .as[(Long, Int, Int, Int, Int)].collect().map(x => x._1 -> (x._2, x._3, x._4, x._5)).toMap
    val res = S.ivfAdcResidualTopK(e, seeds, query, cents, topK = 10, nProbe = 3)
      .select("vec_id", "code0", "code1", "code2", "code3")
      .as[(Long, Int, Int, Int, Int)].collect().map(x => x._1 -> (x._2, x._3, x._4, x._5)).toMap
    val shared = raw.keySet.intersect(res.keySet)
    assert(shared.nonEmpty)
    assert(shared.exists(id => raw(id) != res(id)),
      "residual codes identical to raw codes for every shared survivor — residual path suspect")
  }

  test("substringDedup: repeated 5-gram coverage, interval merge, edge docs") {
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),        // shares only pos-0 gram with doc 2
      (2L, "w1 w2 w3 w4 w5 x1 x2 x3"),
      (3L, "a b c d e a b c d e"),             // internal repeat: starts 0 and 5, touching
      (4L, ""),                                // empty
      (5L, "u1 u2 u3"),                        // too short for any gram
      (6L, "p q r s t u"),                     // exact dup pair: starts 0,1 OVERLAP → merge
      (7L, "p q r s t u")
    ).toDF("doc_id", "text")
    val r = Dedup.substringDedup(d, l = 5, maxDupFrac = 0.5).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getDouble(5), x.getBoolean(6)))).toMap
    // docs 1/2: one shared gram at pos 0 → 5 of 8 tokens covered
    assert(r(1L) == ((8L, 4L, 1L, 5L, 0.625, false)))
    assert(r(2L) == ((8L, 4L, 1L, 5L, 0.625, false)))
    // doc 3: same gram at starts 0 and 5; [0,5) and [5,10) touch but
    // don't overlap → two intervals, full coverage either way
    assert(r(3L) == ((10L, 6L, 2L, 10L, 1.0, false)))
    // empty / too-short docs: nothing to flag, kept
    assert(r(4L) == ((0L, 0L, 0L, 0L, 0.0, true)))
    assert(r(5L) == ((3L, 0L, 0L, 0L, 0.0, true)))
    // docs 6/7: both grams duplicated, starts 0,1 overlap → ONE merged
    // interval of length 6, not 5+5
    assert(r(6L) == ((6L, 2L, 2L, 6L, 1.0, false)))
    assert(r(7L) == ((6L, 2L, 2L, 6L, 1.0, false)))
    // keepFirst (the paper's removal semantics): the globally-first
    // occurrence of each duplicated gram survives unflagged
    val k = Dedup.substringDedup(d, l = 5, maxDupFrac = 0.5, keepFirst = true)
      .collect().map(x => x.getLong(0) -> ((x.getLong(3), x.getLong(4),
        x.getBoolean(6)))).toMap
    assert(k(1L) == ((0L, 0L, true)))    // doc 1 holds the first copy
    assert(k(2L) == ((1L, 5L, false)))   // doc 2's copy is flagged
    assert(k(3L) == ((1L, 5L, true)))    // internal repeat: pos 0 kept, pos 5 flagged
    assert(k(6L) == ((0L, 0L, true)))    // doc 6 holds both canonical grams
    assert(k(7L) == ((2L, 6L, false)))   // doc 7 loses everything
  }

  test("dc5 LSH decontamination: under-flags only, max_cos4 is a lower bound of dc4's") {
    import graft.sources.Tables
    val S = graft.similarity.Similarity
    val e = Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val isEval = (vid: org.apache.spark.sql.Column) => vid % 13 === 0
    val full = S.embeddingDecontaminate(e, isEval, threshold = 0.45)
      .select("vid", "max_cos4", "contaminated")
      .as[(Long, Option[Double], Boolean)].collect()
      .map { case (k, v, c) => k -> ((v, c)) }.toMap
    val lsh = S.embeddingDecontaminateLsh(e, isEval, threshold = 0.45,
        bits = 6, bands = 16)
      .select("vid", "max_cos4", "contaminated")
      .as[(Long, Option[Double], Boolean)].collect()
    // same corpus coverage: one output row per non-eval vector
    assert(lsh.map(_._1).toSet == full.keySet)
    var flaggedLsh = 0
    lsh.foreach { case (vid, mc, c) =>
      val (fmc, fc) = full(vid)
      // candidates verify exactly, so any dc5 score is one of dc4's
      // pair scores: a lower bound of the true max
      mc.foreach(m => assert(fmc.exists(_ >= m), s"vid=$vid lsh=$m full=$fmc"))
      if (c) { flaggedLsh += 1; assert(fc, s"vid=$vid over-flagged") }
    }
    // the recall is imperfect by design but must be non-trivial on
    // driver data (x6's ~75-80% pair recall at this calibration)
    val flaggedFull = full.count(_._2._2)
    assert(flaggedLsh > 0 && flaggedLsh <= flaggedFull)
  }

  test("lp1 label propagation: barbell graph splits where the component closure cannot") {
    import spark.implicits._
    // two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10
    val pairs = Seq((1L,2L),(1L,3L),(2L,3L),(10L,11L),(10L,12L),(11L,12L),(3L,10L))
      .toDF("doc_a", "doc_b")
    val r = graft.dedup.Dedup.labelPropagation(pairs, rounds = 3)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    // one component, but the two dense ends keep distinct majorities
    val communities = r.values.map(_._1).toSet
    assert(communities.size == 2, s"expected 2 communities: $r")
    assert(r(1L)._1 == r(2L)._1 && r(2L)._1 == r(3L)._1)
    assert(r(10L)._1 == r(11L)._1 && r(11L)._1 == r(12L)._1)
    // sizes are consistent with membership
    r.values.groupBy(_._1).foreach { case (_, ms) =>
      assert(ms.forall(_._2 == ms.size)) }
    // determinism: a second run is identical
    val r2 = graft.dedup.Dedup.labelPropagation(pairs, rounds = 3)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r == r2)
  }
}
