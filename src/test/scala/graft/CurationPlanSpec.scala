package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.Md5
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The corpus queries pay for no exchange or job their result does not
  * need. Over every SQL execution a query runs (its final collect and each
  * build-time checkpoint or operator action, collected as
  * `BenchExtra audit` collects them):
  *  - no query reading `documents` or `embeddings` round-robin-shuffles
  *    its input — the scan's own splits set the parallelism;
  *  - the prefix Jaccard plan aggregates no (`_id`, `_sh`) distinct, since
  *    the shingle kernel emits each window once per document;
  *  - `packChunks` fetches its id bounds and bucket totals in one job each;
  *  - the decontamination sweeps hash each shingle in one kernel, so no
  *    plan evaluates `md5` on its own. */
class CurationPlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** The catalog queries whose oracle reads the corpus tables — the Spark
    * side of each reads the same tables. */
  private val corpusQueries: Seq[String] = SparkEntry.oracleSql.collect {
    case (name, sql) if "(?i)\\b(from|join)\\s+(documents|embeddings)\\b".r.findFirstIn(sql).isDefined => name
  }.toSeq.sorted

  /** (action, executed plan) of every SQL execution `name` runs, and the
    * number of jobs it started. */
  private def run(name: String): (Seq[(String, SparkPlan)], Int) = {
    val jobs = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BenchExtra.watching(spark) { ex =>
      ex.take()
      spark.sparkContext.addSparkListener(counter)
      try {
        SparkEntry.queries(name)(spark, sfDir).collect()
        GraftListenerBus.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(counter)
      (ex.take().map { case (action, qe) => action -> qe.executedPlan }, jobs.get)
    }
  }

  private lazy val runs: Map[String, (Seq[(String, SparkPlan)], Int)] =
    corpusQueries.map(q => q -> run(q)).toMap

  test("the corpus-reading queries are found") {
    Seq("d_jaccard_pairs", "d_chunk_pack", "d_decontaminate_bloom", "e_cosine_topk")
      .foreach(q => assert(corpusQueries.contains(q), s"$q should read the corpus tables"))
  }

  test("no corpus-reading query round-robin-shuffles its input") {
    val offenders = corpusQueries.flatMap { q =>
      runs(q)._1.collect {
        case (action, plan) if collectWithSubqueries(plan) {
          case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => s
        }.nonEmpty => s"$q ($action)"
      }
    }
    assert(offenders.isEmpty, s"round-robin exchanges in: ${offenders.mkString(", ")}")
  }

  test("d_jaccard_pairs aggregates no (_id, _sh) distinct") {
    val (execs, _) = runs("d_jaccard_pairs")
    assert(execs.nonEmpty)
    execs.foreach { case (action, plan) =>
      val keyed = collectWithSubqueries(plan) {
        case a: BaseAggregateExec if a.groupingExpressions.map(_.references.map(_.name)).flatten.toSet ==
          Set("_id", "_sh") => a
      }
      assert(keyed.isEmpty, s"d_jaccard_pairs ($action) aggregates on (_id, _sh):\n$plan")
    }
  }

  test("d_chunk_pack runs at most six jobs") {
    val (execs, jobs) = runs("d_chunk_pack")
    assert(jobs <= 6, s"d_chunk_pack ran $jobs jobs")
    assert(execs.exists(_._1 == "packChunks"), "the bounds and totals jobs should be one SQL execution")
  }

  test("the decontamination sweeps evaluate md5 only inside the shingle-hash kernel") {
    Seq("d_decontaminate", "d_decontaminate_bloom").foreach { q =>
      runs(q)._1.foreach { case (action, plan) =>
        val md5s = collectWithSubqueries(plan) { case p => p.expressions }.flatten
          .flatMap(_.collect { case m: Md5 => m })
        assert(md5s.isEmpty, s"$q ($action) evaluates md5 ${md5s.size} times:\n$plan")
      }
    }
  }
}
