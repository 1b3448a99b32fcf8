package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.tools.DevSession
import org.scalatest.funsuite.AnyFunSuite

/** The dev mains' one session recipe: `SPARK_GRAFT_EXTRA_CONFS` parses
  * the way `graft.Verify` parses it, and no main builds a session of
  * its own again. */
class DevSessionSpec extends AnyFunSuite {

  test("extra confs trim keys and keep values whole") {
    assert(DevSession.parseExtraConfs("a=1; b=2;;c = x=y") ==
      Seq("a" -> "1", "b" -> "2", "c" -> " x=y"))
  }

  test("an extra-confs entry without '=' fails with the named error") {
    val e = intercept[RuntimeException](DevSession.parseExtraConfs("a=1;oops"))
    assert(e.getMessage == "SPARK_GRAFT_EXTRA_CONFS: bad entry (no '='): oops")
  }

  test("overrides win over the base recipe, extra confs win over both") {
    val key = "spark.sql.shuffle.partitions"
    val confs = DevSession.confs(4, Map(key -> "64"), Some(s"$key=7"))
    assert(confs.collect { case (`key`, v) => v } == Seq("4", "64", "7"))
    assert(confs.toMap.apply(key) == "7")
    GraftConf.required.foreach { case (k, v) => assert(confs.toMap.get(k).contains(v), k) }
    GraftConf.localSmallFiles.foreach { case (k, v) => assert(confs.toMap.get(k).contains(v), k) }
  }

  test("only Bench, Verify and DevSession build a SparkSession under src/main/scala") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"no source tree at $root")
    val builders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => """SparkSession\s*\.\s*builder\s*\(""".r
        .findFirstIn(Files.readString(p)).isDefined)
      .map((p: Path) => p.getFileName.toString).toSet
    assert(builders == Set("Bench.scala", "Verify.scala", "DevSession.scala"))
  }
}
