package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

/** kc1's bounded-round k-core: core_r = {v ∈ core_{r−1} :
  * |N(v) ∩ core_{r−1}| ≥ k}, core_0 = every node. Each graph peels
  * differently per round, so `in_core` is pinned at rounds 1, 2 and 6,
  * with the edge list pinned (pin gate open) and behind the plain
  * barrier (the default gate on these tiny frames). Above the gate
  * round 1 counts degrees on the edge list's id pin with no exchange,
  * and each later round is one exchange on the node id, never a
  * broadcast. */
class KCoreSpec extends AnyFunSuite with SparkTestBase {

  /** K4 on 1..4 with the pendant path 4-5-6-7: at k = 2 one path node
    * peels per round (7, then 6, then 5). */
  private val k4Path = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
    4L -> 5L, 5L -> 6L, 6L -> 7L)
  private val k4PathDeg = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 2L, 6L -> 2L, 7L -> 1L)

  /** Center 10 with spokes 11..14: at k = 2 the spokes peel in round 1
    * and the center, left alone, in round 2. */
  private val star = Seq(10L -> 11L, 10L -> 12L, 10L -> 13L, 10L -> 14L)
  private val starDeg = Map(10L -> 4L, 11L -> 1L, 12L -> 1L, 13L -> 1L, 14L -> 1L)

  /** Triangle 20-21-22 with the tail 22-23-24: 24 peels in round 1, 23
    * in round 2. */
  private val triTail = Seq(20L -> 21L, 21L -> 22L, 20L -> 22L, 22L -> 23L, 23L -> 24L)
  private val triTailDeg = Map(20L -> 2L, 21L -> 2L, 22L -> 3L, 23L -> 2L, 24L -> 1L)

  private val postures = Seq("default gate" -> None, "pin gate open" -> Some("0"))

  private def pairs(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("doc_a", "doc_b")
  }

  private def withPinGate[T](minBytes: Option[String])(body: => T): T = {
    val key = Materialize.PinMinBytesKey
    val old = spark.conf.getOption(key)
    minBytes.foreach(spark.conf.set(key, _))
    try body
    finally {
      old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Materialize.clearPinned()
    }
  }

  /** node -> (deg, in_core) */
  private def kCore(es: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, (Long, Boolean)] =
    Dedup.kCore(pairs(es), k, rounds).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("deg"), r.getAs[Boolean]("in_core")))
      .toMap

  private def expected(deg: Map[Long, Long], core: Set[Long]): Map[Long, (Long, Boolean)] =
    deg.map { case (v, d) => v -> (d, core(v)) }

  private val cases = Seq(
    ("K4 with a pendant path, k=2", k4Path, k4PathDeg, 2,
      Map(1 -> Set(1L, 2L, 3L, 4L, 5L, 6L), 2 -> Set(1L, 2L, 3L, 4L, 5L), 6 -> Set(1L, 2L, 3L, 4L))),
    ("K4 with a pendant path, k=3", k4Path, k4PathDeg, 3,
      Map(1 -> Set(1L, 2L, 3L, 4L), 2 -> Set(1L, 2L, 3L, 4L), 6 -> Set(1L, 2L, 3L, 4L))),
    ("star, k=2", star, starDeg, 2,
      Map(1 -> Set(10L), 2 -> Set.empty[Long], 6 -> Set.empty[Long])),
    ("star, k=1", star, starDeg, 1,
      Map(1 -> starDeg.keySet, 2 -> starDeg.keySet, 6 -> starDeg.keySet)),
    ("triangle with a tail, k=2", triTail, triTailDeg, 2,
      Map(1 -> Set(20L, 21L, 22L, 23L), 2 -> Set(20L, 21L, 22L), 6 -> Set(20L, 21L, 22L))))

  for ((posture, minBytes) <- postures; (name, es, deg, k, cores) <- cases)
    test(s"$name: deg and in_core at rounds 1, 2 and 6 ($posture)") {
      withPinGate(minBytes) {
        for ((rounds, core) <- cores)
          assert(kCore(es, k, rounds) == expected(deg, core), s"rounds=$rounds")
      }
    }

  for ((posture, minBytes) <- postures)
    test(s"reversed, duplicate and self pairs are ignored ($posture)") {
      // 25 has only a self pair, so it is not a node of the graph
      val noisy = triTail ++ Seq(21L -> 20L, 20L -> 21L, 24L -> 23L, 22L -> 22L, 25L -> 25L)
      withPinGate(minBytes) {
        for (rounds <- Seq(1, 2, 6))
          assert(kCore(noisy, 2, rounds) == kCore(triTail, 2, rounds), s"rounds=$rounds")
        assert(kCore(noisy, 2, 6) == expected(triTailDeg, Set(20L, 21L, 22L)))
      }
    }

  test("above the pin gate round 1 has no exchange, each later round one on the node id, and none broadcasts") {
    val rounds = 6
    withPinGate(Some("0")) {
      val df = Dedup.kCore(pairs(k4Path), k = 2, rounds = rounds)
      assert(df.collect().length == k4PathDeg.size)
      val plan = executedNodes(df.queryExecution.executedPlan)
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      val byId = shuffles.collect {
        case HashPartitioning(Seq(a: Attribute), 4) if a.name == "id" => a
      }
      assert(shuffles.size == rounds - 1 && byId.size == rounds - 1, s"shuffles: $shuffles")
      assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, "broadcasts")
    }
  }
}
