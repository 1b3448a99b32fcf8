package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CentroidKernel, NearestCentroid}
import graft.similarity.Similarity

/** The nearest-centroid kernel (`graft_nearest_cid`,
  * [[CentroidKernel]]) and the operators built on it: the k-means Lloyd
  * round and every top-1 IVF cell assignment. */
class CentroidKernelSpec extends AnyFunSuite with SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def nearest(emb: Seq[Double], cents: Seq[(Long, Seq[Double])]): Long =
    cents(CentroidKernel.nearestIndex(Option(emb).map(e => new GenericArrayData(e.toArray)).orNull,
      cents.flatMap(_._2).toArray, cents.map(_._1).toArray))._1

  private def nearestCid(emb: String, cents: Seq[(Long, Seq[Double])]) =
    call_function("graft_nearest_cid", col(emb),
      typedlit(cents.flatMap(_._2).toArray), typedlit(cents.map(_._1).toArray))

  test("kernel: ties go to the lowest cid, whatever the centroid order") {
    val same = Seq(1.0, 0.0)
    assert(nearest(Seq(1.0, 0.0), Seq(9L -> same, 4L -> same, 7L -> same)) == 4L)
    assert(nearest(Seq(0.0, 1.0), Seq(9L -> Seq(0.0, 1.0), 2L -> Seq(1.0, 0.0))) == 9L)
  }

  test("kernel: a NaN cos ranks greatest; -0.0 ties with 0.0") {
    // cid 8's cos is NaN (0 · ∞), cid 3's is 5
    assert(nearest(Seq(0.0, 1.0), Seq(3L -> Seq(1.0, 5.0), 8L -> Seq(Double.PositiveInfinity, 0.0))) == 8L)
    // all NaN: the lowest cid
    assert(nearest(Seq(Double.NaN, 1.0), Seq(6L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0))) == 2L)
    // cid 1 scores -0.0, cid 5 scores 0.0: equal, so the lower cid wins
    assert(nearest(Seq(-1.0, 0.0), Seq(5L -> Seq(0.0, 1.0), 1L -> Seq(0.0, 0.0))) == 1L)
    assert(nearest(Seq(1.0, 0.0), Seq(5L -> Seq(-0.0, 1.0), 1L -> Seq(0.0, 0.0))) == 1L)
  }

  test("graft_nearest_cid: a NULL embedding lands in the lowest cid; no centroids gives NULL") {
    graft.functions.GraftFunctions.register(spark)
    val cents = Seq(5L -> Seq(0.0, 1.0), 2L -> Seq(1.0, 0.0))
    val df = Seq((1L, Seq(0.2, 0.9)), (2L, null: Seq[Double]), (3L, Seq(0.9, 0.2)))
      .toDF("id", "emb")
    val got = df.select(col("id"), nearestCid("emb", cents).as("cid"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(5L), 2L -> Some(2L), 3L -> Some(2L)))
    assert(nearest(null, cents) == 2L)
    val none = df.select(call_function("graft_nearest_cid", col("emb"),
      typedlit(Array.empty[Double]), typedlit(Array.empty[Long]))).as[Option[Long]].collect()
    assert(none.forall(_.isEmpty))
    def interp(emb: Array[Double]) = NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.Literal.create(emb,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      cents.flatMap(_._2).toArray, cents.map(_._1).toArray).eval(null)
    assert(interp(Array(0.2, 0.9)) == 5L && interp(null) == 2L)
  }

  test("graft_nearest_cid == the crossJoin + max(struct(cos, -cid)) argmax it replaced (seeded)") {
    graft.functions.GraftFunctions.register(spark)
    val seed = sys.env.get("GRAFT_CENTROID_FUZZ_SEED").map(_.toLong).getOrElse(15001L)
    val rnd = new scala.util.Random(seed)
    // few distinct components, so exact cos ties, NaNs and ±0.0 are common
    val pool = Array(-1.0, -0.5, -0.0, 0.0, 0.5, 1.0, 2.0, Double.NaN)
    def vec(dim: Int): Seq[Double] =
      Seq.fill(dim)(if (rnd.nextInt(40) == 0) Double.NaN else pool(rnd.nextInt(pool.length - 1)))
    (1 to 20).foreach { trial =>
      val dim = 1 + rnd.nextInt(6)
      val k = 1 + rnd.nextInt(10)
      val cids = rnd.shuffle((0L until 40L).toList).take(k)
      val cents = cids.map(c => c -> vec(dim))
      val corpus = (0 until 60).map(i => (i.toLong, vec(dim))).toDF("vec_id", "emb")
      // the reference: the aggregate argmax the operators used before
      val reference = corpus.crossJoin(cents.toDF("cid", "cent_emb"))
        .withColumn("cos_c", Similarity.fastDot(col("emb"), col("cent_emb")))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos_c").as("cos"), (-col("cid")).as("neg_cid"))).as("best"))
        .select(col("vec_id"), (-col("best.neg_cid")).as("cid"))
        .as[(Long, Long)].collect().toMap
      val viaKernel = corpus.select(col("vec_id"), nearestCid("emb", cents).as("cid"))
        .as[(Long, Long)].collect().toMap
      assert(viaKernel == reference, s"seed $seed trial $trial: cents $cents")
    }
  }

  test("centroids: normalized on the driver to the column normalize's bits") {
    val rnd = new scala.util.Random(15002)
    val cents = (0 until 200).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val viaColumn = Similarity.normalized(cents, "cid", "e", spread = false)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bits = (rows: Seq[(Long, Array[Double])]) =>
      rows.map { case (c, e) => (c, e.map(java.lang.Double.doubleToRawLongBits).toSeq) }
    assert(bits(Similarity.centroidsOf(cents).rows.toSeq) == bits(viaColumn.toSeq))
  }

  test("centroids: a NULL, ragged or zero-norm centroid fails by name") {
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    def failure(cents: Seq[(Long, Option[Array[Float]])]): String =
      intercept[IllegalArgumentException](Similarity.ivfTopK(q, q,
        cents.toDF("vec_id", "embedding"))).getMessage
    val ok = Some(Array(1.0f, 0.0f))
    assert(failure(Seq(1L -> ok, 2L -> None)).contains("vec 2 has -1 dims, expected 2"))
    assert(failure(Seq(1L -> ok, 2L -> Some(Array(1.0f)))).contains("vec 2 has 1 dims, expected 2"))
    assert(failure(Seq(1L -> ok, 3L -> Some(Array(0.0f, -0.0f)))).contains("centroid 3 has zero norm"))
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.1f, 0.9f, 0.0f)),
    (4L, Array(0.7f, 0.7f, 0.1f)))

  test("kmeans: a cluster left empty drops out") {
    val corpus = vecs.toDF("vec_id", "embedding")
    val seeds = Seq((0L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)),
      (9L, Array(0.0f, 0.0f, -1.0f))).toDF("vec_id", "embedding")
    val c = Similarity.kmeansCentroids(corpus, seeds, iters = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(c == Set(0L, 2L))
  }

  test("null embedding: the lowest cid / cluster_id, and no pairs in semDedup") {
    val corpus = (vecs.map { case (i, e) => (i, Option(e)) } :+ ((7L, None: Option[Array[Float]])))
      .toDF("vec_id", "embedding")
    val cents = vecs.take(3).toDF("vec_id", "embedding")
    val cells = Similarity.ivfCellAssignment(corpus, cents).as[(Long, Long)].collect().toMap
    assert(cells(7L) == 0L && cells.size == 6)
    val sd = Similarity.semDedup(corpus, cents, threshold = 0.5)
      .where(col("vec_id") === 7L).as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(sd == Seq((7L, 0L, 0L, false)))
  }

  private def assignmentNodes(plan: SparkPlan): Seq[SparkPlan] =
    collect(plan) { case p if p.expressions.exists(_.exists(_.isInstanceOf[NearestCentroid])) => p }

  test("plan: a Lloyd round is one job, and the assignments plan no exchange") {
    // a parquet scan, so collecting the seeds is a job like at the real keys
    val dir = java.nio.file.Files.createTempDirectory("graft_centroid_plan").toString
    val rnd = new scala.util.Random(15)
    (0 until 200).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1), i % 3))
      .toDF("vec_id", "embedding", "label").write.mode("overwrite").parquet(dir)
    val e = spark.read.parquet(dir)
    val seeds = e.where(col("vec_id") % 25 === 0)
    val vn = Similarity.normalizedCorpus(e)
    Seq(1, 2, 3).foreach { r =>
      val (_, jobs) = jobsOf(s"kmeans-rounds-$r")(
        Similarity.kmeansCentroids(e, seeds, iters = r, prenorm = Some(vn)).collect())
      // the seed collect + one job per round, each a single stage (no shuffle)
      assert(jobs == Seq.fill(1 + r)(1), s"iters=$r: stages per job $jobs")
    }
    val trained = Similarity.kmeansCentroids(e, seeds, iters = 2, prenorm = Some(vn))
    val q = e.where(col("vec_id") < 5)
    def noExchangeUnderAssignment(df: DataFrame): Unit = {
      df.collect()
      val nodes = assignmentNodes(df.queryExecution.executedPlan)
      assert(nodes.nonEmpty, "no graft_nearest_cid in the plan")
      nodes.foreach(n => assert(find(n)(_.isInstanceOf[Exchange]).isEmpty,
        s"exchange under the assignment:\n$n"))
    }
    noExchangeUnderAssignment(Similarity.ivfTopK(q, e, trained, k = 5, nProbe = 3,
      prenorm = Some(vn)))
    val lvn = Similarity.normalizedLabeledCorpus(e)
    noExchangeUnderAssignment(Similarity.ivfHardNegatives(q, e, seeds, k = 5, nProbe = 3,
      prenorm = Some(lvn)))
    // semDedup checkpoints its assignment while the frame is built: that
    // one job is a single stage
    val (_, sdJobs) = jobsOf("semdedup-build")(
      Similarity.semDedup(e, trained, threshold = 0.45, prenorm = Some(vn)))
    assert(sdJobs == Seq(1), s"semDedup build: stages per job $sdJobs")
  }
}
