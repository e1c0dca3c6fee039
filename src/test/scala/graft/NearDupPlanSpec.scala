package graft

import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Expression, HigherOrderFunction}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.HashJoin
import graft.functions.TextExpressions.Jaccard

/** The near-dup queries' per-row work runs in codegen'd kernels: over
  * every SQL execution a query runs (its final collect and each build-time
  * checkpoint or `Components` edge plan, collected as `BenchExtra audit`
  * collects them), no plan holds a lambda higher-order function
  * (interpreted once per element) or an `array_intersect`, and the exact
  * Jaccard kernel appears at most twice: once in the re-join condition and
  * once in the projection above it. */
class NearDupPlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val queries = Seq("d_jaccard_pairs", "d_jaccard_lowt", "d_minhash_pairs",
    "d_dup_clusters", "d_dedup_keep_best", "d_simhash_pairs", "d_embed_neardup",
    "d_heavy_hitters", "d_chunk_pack")

  /** (action, executed plan) of every SQL execution `name` runs. */
  private def executions(name: String): Seq[(String, SparkPlan)] =
    BenchExtra.watching(spark) { ex =>
      ex.take()
      SparkEntry.queries(name)(spark, sfDir).collect()
      ex.take().map { case (action, qe) => action -> qe.executedPlan }
    }

  private def expressions(plan: SparkPlan): Seq[Expression] =
    collectWithSubqueries(plan) { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })

  queries.foreach { q =>
    test(s"$q runs no lambda and no array_intersect, and scores a pair at most twice") {
      val runs = executions(q)
      assert(runs.nonEmpty, s"$q ran no SQL execution")
      runs.foreach { case (action, plan) =>
        val exprs = expressions(plan)
        val lambdas = exprs.collect { case h: HigherOrderFunction => h.prettyName }
        assert(lambdas.isEmpty, s"$q ($action) evaluates lambdas: ${lambdas.distinct.mkString(", ")}")
        assert(!exprs.exists(_.isInstanceOf[ArrayIntersect]), s"$q ($action) runs array_intersect")
        val scored = exprs.count(_.isInstanceOf[Jaccard])
        assert(scored <= 2, s"$q ($action) holds the Jaccard kernel $scored times")
      }
      if (q.startsWith("d_jaccard"))
        assert(runs.exists { case (_, p) => expressions(p).exists(_.isInstanceOf[Jaccard]) },
          s"$q should verify its pairs with the Jaccard kernel")
    }
  }

  test("the Components edge plan is a recorded SQL execution holding the band join") {
    val edges = executions("d_dup_clusters").filter(_._1 == "connectedComponents")
    assert(edges.size == 1, s"expected one connectedComponents execution, got ${edges.size}")
    val bandJoins = collectWithSubqueries(edges.head._2) {
      case j: HashJoin if j.leftKeys.exists(_.references.exists(_.name == "_band")) => j
    }
    assert(bandJoins.nonEmpty, "the edge execution should hold the band self-join")
  }
}
