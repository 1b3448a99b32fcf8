package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel
import graft.dedup.Dedup

/** The fault-tolerance knob behind every engine lineage barrier
  * ([[graft.Materialize]]): all three modes must produce identical
  * operator results, `persist` must actually use DISK_ONLY_2 with
  * lineage kept (so an unpersist forces a clean recompute), and
  * `checkpoint` must write to the reliable store. */
class MaterializeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today"
  private def docs = Seq(
    (0L, base), (1L, base.replace("today", "tonight")),
    (2L, "completely different content with no overlap whatsoever in any shingle"),
    (3L, base)
  ).toDF("doc_id", "text")

  private def withMode[A](mode: String)(f: => A): A = {
    spark.conf.set(Materialize.ModeKey, mode)
    try f
    finally spark.conf.unset(Materialize.ModeKey)
  }

  /** Scoped checkpoint dir on the SHARED session: set, run, then CLEAR
    * (setCheckpointDir(null) -> None) and delete the temp tree, so no
    * later suite inherits a checkpoint dir (ADVICE r14). */
  private def withCheckpointDir[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try f(dir)
    finally {
      spark.sparkContext.setCheckpointDir(null)
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  private def minhashPairs(): Set[(Long, Long)] =
    Dedup.minhashNearDups(docs, threshold = 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

  test("persist and checkpoint modes reproduce the local-mode results") {
    val local = minhashPairs()
    assert(local.contains((0L, 1L)) && local.contains((0L, 3L)))
    val persisted = withMode("persist")(minhashPairs())
    assert(persisted == local)
    val checkpointed = withCheckpointDir(_ => withMode("checkpoint")(minhashPairs()))
    assert(checkpointed == local)
  }

  test("persist mode keeps lineage: unpersist forces recompute, same result") {
    withMode("persist") {
      val df = Materialize.barrier(docs.select($"doc_id" * 2 as "x"))
      assert(df.storageLevel == StorageLevel.DISK_ONLY_2)
      val before = df.as[Long].collect().sorted.toSeq
      df.unpersist(blocking = true)
      assert(df.storageLevel == StorageLevel.NONE)
      // blocks are gone; only kept lineage can produce these rows now —
      // exactly what survives a double executor loss at cluster scale
      val after = df.as[Long].collect().sorted.toSeq
      assert(after == before && before == Seq(0L, 2L, 4L, 6L))
    }
  }

  test("checkpoint mode writes to the reliable store and truncates lineage") {
    withCheckpointDir { dir =>
      withMode("checkpoint") {
        val df = Materialize.barrier(docs.select($"doc_id"))
        assert(df.as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L))
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .filter(p => java.nio.file.Files.isRegularFile(p)).count()
        assert(files > 0, "no checkpoint files written to the reliable store")
      }
    }
  }

  test("unknown mode fails loudly") {
    withMode("replicate-to-the-moon") {
      assertThrows[IllegalArgumentException](Materialize.barrier(docs))
    }
  }
}
