package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.LambdaLint

/** Guards the free-expression-in-HOF-lambda class (the round-2/round-5
  * O(len²) regressions) at build time: the matcher must catch the exact
  * shipped pattern, and every registered query's optimized plan must be
  * clean.
  */
class LambdaLintSpec extends AnyFunSuite {
  import SparkTest._

  test("lint catches the shipped O(len²) pattern (split free inside a lambda body)") {
    // the round-5 tx_lm_perplexity formulation, reconstructed verbatim
    val w = split(col("text"), " ")
    val bad = Tables.documents(spark, sf).select(
      col("doc_id"),
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))).as("bgs"))
    val plan = bad.queryExecution.optimizedPlan.toString
    assert(LambdaLint.violations(plan).nonEmpty,
      "matcher failed to flag the known-bad plan — lint is vacuous")
    // and the matcher ignores splits OUTSIDE lambda bodies (the fixed form)
    val good = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        transform(col("w"), t => length(t)).as("lens"))
    assert(LambdaLint.violations(good.queryExecution.optimizedPlan.toString).isEmpty)
  }

  test("unbalanced paren inside a literal cannot swallow the rest of the plan") {
    // regexp_replace's pattern literal prints unquoted in plan text; the
    // stray '(' used to keep the depth count open so the "body" ran to the
    // end of the plan and flagged the next operator's innocent split(
    val plan =
      """Project [transform(xs#1, lambdafunction(regexp_replace(x#0, ([0-9]+, <NUM>), x#0)) AS y#2]
        |+- Project [split(text#3,  , -1) AS w#4]""".stripMargin
    assert(LambdaLint.violations(plan).isEmpty,
      "literal paren swallowed the plan — EOL bound regressed")
    // and the end-of-line bound must not weaken detection of a real body
    val bad = "Project [transform(xs#1, lambdafunction(split(t#0,  , -1), t#0)) AS y#2]"
    assert(LambdaLint.violations(bad).nonEmpty)
  }

  test("every registered query plan is free of per-element re-tokenization") {
    val dirty = RegistryPass.results.flatMap { case (q, ran) =>
      val plan = ran.get.optimizedPlan
      val v = LambdaLint.violations(plan)
      if (v.isEmpty) Nil
      else Seq(s"${q.name}: ${v.map { case (body, pat) => s"$pat in [$body]" }.mkString("; ")}")
    }
    assert(dirty.isEmpty, s"O(len²) lambda pattern in:\n${dirty.mkString("\n")}")
  }
}
