package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/**
 * Static detector for the round-15 fc1 finding (PLANS.md): interpreted
 * higher-order functions re-evaluate non-lambda-variable subtrees PER
 * ELEMENT, so a lambda body that embeds a computed kernel (tokenizer
 * split, regex, digest, or another HOF) multiplies that kernel by the
 * array length — the `wordShingles` index-transform form was O(tokens²)
 * per doc this way. The audit walks the optimized plan's expressions;
 * for every lambda it reports each maximal subtree that (a) references
 * NONE of that lambda's variables — so it is loop-invariant and will
 * be recomputed per element — and (b) contains an expensive kernel.
 * Attribute references inside lambdas are fine (row lookups, not
 * recomputation) and never flagged.
 *
 * Remedies, in preference order: restructure so the lambda consumes
 * only its own variables (the `wordShingles` pre-slice + `zip_with`
 * fix); or split the computed array into its own projection BELOW a
 * Generate boundary (CollapseProject does not merge through Generate);
 * or accept-and-document when the invariant is cheap relative to the
 * loop body (the audit's severity is uniform — acceptance lives in the
 * gate spec's allowlist, [[graft.HofAuditSweepSpec]]).
 */
object HofAudit {

  final case class Finding(node: String, hof: String, subtree: String) {
    override def toString: String =
      s"HOF-AUDIT WARN: $hof lambda re-evaluates a loop-invariant computed " +
        s"kernel per element (pre-slice + zip_with, or project it below a " +
        s"Generate) in $node: $subtree"
  }

  /** Kernels worth flagging when recomputed per element. prettyName
    * match so optional classes don't pin the build to catalyst
    * internals; any nested HOF is expensive by definition. */
  private val ExpensiveNames = Set(
    "split", "regexp_replace", "regexp_extract_all", "regexp_extract",
    "regexp_count", "md5", "sha1", "sha2", "crc32", "xxhash64", "sentences")

  private def isExpensive(e: Expression): Boolean = e.exists {
    case _: HigherOrderFunction => true
    case x => ExpensiveNames.contains(x.prettyName)
  }

  def audit(df: DataFrame): Seq[Finding] = audit(df.queryExecution.optimizedPlan)

  def audit(plan: LogicalPlan): Seq[Finding] = {
    val out = scala.collection.mutable.ListBuffer.empty[Finding]

    def freeExpensive(e: Expression, vars: Set[ExprId]): Seq[Expression] = e match {
      // ADVICE r15: never DESCEND into a nested LambdaFunction — its
      // body is a separate scope audited by its own visit with ITS
      // variables (md5(y) in transform(arr, x => transform(x, y =>
      // md5(y))) is bound there, and flagging it here was a false
      // positive). The boundness check below still uses only the
      // CURRENT lambda's vars: a whole nested HOF that consumes none
      // of them (transform(c, y => md5(y)) with invariant c) remains
      // flagged as the maximal loop-invariant subtree it is.
      case _: LambdaFunction => Nil
      case _ =>
        val bound = e.exists {
          case v: NamedLambdaVariable => vars.contains(v.exprId)
          case _ => false
        }
        if (!bound) { if (isExpensive(e)) Seq(e) else Nil }
        else e.children.flatMap(freeExpensive(_, vars))
    }

    def visitExpr(node: String, e: Expression): Unit = {
      e match {
        case hof: HigherOrderFunction =>
          hof.functions.foreach {
            case LambdaFunction(body, args, _) =>
              val vars = args.map(_.exprId).toSet
              freeExpensive(body, vars).foreach { s =>
                out += Finding(node, hof.prettyName, norm(s).take(160))
              }
            case _ => ()
          }
        case _ => ()
      }
      e.children.foreach(visitExpr(node, _))
    }

    def visitPlan(p: LogicalPlan): Unit = {
      p.expressions.foreach(visitExpr(p.nodeName, _))
      p.children.foreach(visitPlan)
      p.subqueries.foreach(visitPlan)
    }

    visitPlan(plan)
    out.distinct.toSeq
  }

  private def norm(e: Expression): String =
    e.toString.replaceAll("#\\d+L?", "")

  /** Dev loop: sweep every driver-contract key.
    * Usage: sbt "runMain graft.tools.HofAudit [sfDir]" */
  def main(args: Array[String]): Unit = {
    val spark = DevSession.build()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    var warned = 0
    var errs = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      try {
        val fs = audit(q(spark, dir))
        if (fs.nonEmpty) {
          warned += 1
          println(s"KEY $name: ${fs.size}")
          fs.foreach(f => println("  " + f.toString.take(260)))
        }
      } catch {
        case e: Throwable =>
          errs += 1
          println(s"KEY $name: ERR ${e.getClass.getSimpleName} " +
            String.valueOf(e.getMessage).take(120))
      }
    }
    println(s"TOTAL keys with HOF warnings: ${warned + errs} of " +
      s"${graft.SparkEntry.queries.size}" +
      (if (errs > 0) s" (including $errs construction failures)" else ""))
    spark.stop()
  }
}
