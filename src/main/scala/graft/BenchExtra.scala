package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CollapseCodegenStages, FileSourceScanExec, FormattedMode,
  QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's one side harness. NOT part of the graded bench contract —
  * `Bench.scala` stays the frozen bench entry point; per-layer numbers
  * come from `perfbench --trace 1`. Every mode runs on the session every
  * entry point builds ([[LocalSession]]: local[SPARK_GRAFT_CPUS], default
  * the host's processor count) over the tables in SPARK_GRAFT_SF_DIR.
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra time q1 q2 ..."   — noop-time queries
  *       (reps via SPARK_GRAFT_EXTRA_REPS, default 3; per-rep seconds)
  *   sbt "runMain graft.BenchExtra plan OUTDIR SUFFIX q1 q2 ..."
  *       — write OUTDIR/<query>_<SUFFIX>.txt explain("formatted") dumps
  *   sbt "runMain graft.BenchExtra audit"   — write ./PLAN_AUDIT.md
  */
object BenchExtra {

  private def runForced(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Noop-sink seconds of each query, `reps` runs apiece with every cache
    * freed before each, after one warmup query (Bench's catalog
    * methodology). Prints one `EXTRA` line per query. */
  def time(spark: SparkSession, sfDir: String, names: Seq[String],
           reps: Int): Seq[(String, Seq[Double])] = {
    try runForced(SparkEntry.queries("q1_agg")(spark, sfDir))
    catch { case _: Throwable => () }
    names.map { name =>
      spark.sparkContext.setJobDescription(s"extra: $name")
      val ts = (1 to reps).map { _ =>
        free(spark)
        val t0 = System.nanoTime()
        runForced(SparkEntry.queries(name)(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"EXTRA $name%-24s min=${ts.min}%7.3f  reps=${ts.map(t => f"$t%.3f").mkString(",")}")
      name -> ts
    }
  }

  /** Writes `outDir/<query>_<suffix>.txt` for each query: its unexecuted
    * `explain("formatted")` plan, then the formatted plan of each SQL
    * execution run while the query was built; returns the files. */
  def plan(spark: SparkSession, sfDir: String, outDir: Path, suffix: String,
           names: Seq[String]): Seq[Path] = watching(spark) { ex =>
    Files.createDirectories(outDir)
    names.map { name =>
      ex.take()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val built = ex.take().zipWithIndex.map { case ((action, qe), i) =>
        s"\n== Build-time execution ${i + 1}: $action ==\n" + qe.explainString(FormattedMode)
      }
      val file = outDir.resolve(s"${name}_$suffix.txt")
      Files.writeString(file, df.queryExecution.explainString(FormattedMode) + built.mkString)
      free(spark)
      println(s"PLAN $name -> $file")
      file
    }
  }

  /** Operator counts over the SQL executions of one query. */
  final case class Shape(shuffles: Int, bcasts: Int, sorts: Int, cartesian: Int,
                         codegen: Int, pushed: Boolean)

  /** Counts the operators of `plans` as Spark planned them. An adaptive
    * plan counts from its initial plan, with whole-stage codegen regions
    * and exchange reuse laid out as a non-adaptive plan has them: what AQE
    * changes at run time (a join turned into a broadcast, an exchange
    * dropped) depends on which query stage finishes first, so it differs
    * between runs of one query. Subqueries count; a reused exchange does
    * not count again. */
  def shape(plans: Seq[SparkPlan]): Shape = {
    val nodes = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec =>
        walk(ReuseExchangeAndSubquery(CollapseCodegenStages()(a.initialPlan)))
      case _ =>
        nodes += p
        (p.children ++ p.subqueries).foreach(walk)
    }
    plans.foreach(walk)
    def count(pf: PartialFunction[SparkPlan, Unit]): Int = nodes.count(pf.isDefinedAt)
    Shape(
      shuffles = count { case _: ShuffleExchangeLike => },
      bcasts = count { case _: BroadcastExchangeLike => },
      sorts = count { case _: SortExec => },
      cartesian = count { case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => },
      codegen = count { case _: WholeStageCodegenExec => },
      pushed = nodes.exists {
        case scan: FileSourceScanExec => scan.metadata.get("PushedFilters").exists(_ != "[]")
        case _ => false
      })
  }

  /** Physical-plan audit — the "is this the plan you'd want at 100 TB"
    * check, mechanized. Each query runs alone (caches freed after it) and
    * is reported by the [[shape]] of every SQL execution it ran: its final
    * `collect` and any execution run while it was built (a
    * `localCheckpoint`, an operator's `count` or `head`). Returns the
    * PLAN_AUDIT.md report, one table row per query. */
  def audit(spark: SparkSession, sfDir: String,
            names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted): String = {
    val rows = watching(spark) { ex =>
      names.map { name =>
        try {
          ex.take()
          SparkEntry.queries(name)(spark, sfDir).collect()
          val s = shape(ex.take().map(_._2.executedPlan))
          f"| $name%-22s | ${s.shuffles}%8d | ${s.bcasts}%6d | ${s.sorts}%5d | ${s.cartesian}%9d | ${s.codegen}%7d | ${if (s.pushed) "yes" else "no"}%6s |"
        } catch {
          case e: Throwable => f"| $name%-22s | ERROR: ${e.getMessage.take(40)} |"
        } finally free(spark)
      }
    }
    val sf = Paths.get(sfDir).getFileName
    val header =
      s"""# PLAN_AUDIT — physical-plan shape of every catalog query ($sf, ${spark.sparkContext.master})
        |
        |Generated by `graft.BenchExtra audit`. Each query runs alone and every
        |cache is freed after it. A row counts the operators of every SQL
        |execution the query ran: its final `collect`, plus any
        |`localCheckpoint`, `count`, `head` or `collect` run while it was
        |built. Each execution counts as Spark planned it: an adaptive plan
        |from its initial plan, with codegen regions and exchange reuse laid
        |out as a non-adaptive plan has them, because what AQE changes at run
        |time (a join turned into a broadcast, an exchange dropped) depends on
        |which query stage finishes first and so differs between runs.
        |Subqueries count; a reused exchange does not count again. The
        |`Components` edge plan (the MinHash band join of `d_dup_clusters`
        |and `d_dedup_keep_best`) counts as the one execution that runs it
        |with the first round; the later rounds are RDD jobs, not SQL
        |executions, and do not count.
        |
        |- shuffles — shuffle exchanges (each a full network pass of its input at scale);
        |- bcasts — broadcast exchanges (dimension sides);
        |- sorts — Sort operators (deterministic output order, window and
        |  sort-merge internals);
        |- cartesian — CartesianProduct and BroadcastNestedLoopJoin;
        |- codegen — whole-stage codegen regions (more regions, more
        |  virtual-call boundaries);
        |- pushed — whether any file scan carries pushed filters.
        |
        |The final order each query carries for oracle determinism contributes
        |one range-partition exchange and sort apiece.
        |The only `cartesian` entries are e_cosine_topk — the documented
        |brute-force exact baseline (its scale path is e_ann_lsh) — and
        |e_pq_adc, whose broadcast nested-loop against the (tiny,
        |broadcast) query side is the POINT of product quantization: the
        |per-pair cost collapses to m integer table lookups, and the pair
        |count itself is pruned by the IVF composition (e_ivf_pq, which
        |plans ZERO cartesians — cell equi-join only).
        |
        |Jaccard catalog pairing: `d_jaccard_pairs` runs at t=0.4, which
        |dispatches to the Bayardo prefix-filter plan — the plan that
        |survives 100× scale (candidates bounded by rare-prefix sharing,
        |never all-pairs-sharing-any-shingle). `d_jaccard_lowt` (t=0.12)
        |dispatches to the banded-MinHash-candidates +
        |exact-set-intersection-verify plan (`ngramJaccardPairsMinhashVerify`,
        |r=1/b=64): a candidate needs a minhash LANE collision (≈ b·J for
        |small J), not merely one shared shingle (≈ certain for any pair
        |touching a common trigram), which is the difference between
        |O(b·n·J̄) and O(n²) candidate rows at web scale. Precision is
        |exact (every candidate re-verified on the true shingle sets); the
        |per-pair miss probability (1−J)^64 ≤ 2.8e-4 at J=t, and the
        |query's exact DuckDB oracle certifies zero misses on the gated
        |corpus. The inverted-index plan stays available for
        |guaranteed-recall use, spec-proven equal on common data.
        |
        |The composed pipeline queries (d_curate_e2e, d_curate_full) carry
        |the SUM of their stages' exchanges — d_curate_full chains the
        |dup-span gate, decontamination, stratified sampling and packing
        |in one plan, so its counts are the whole recipe, not one
        |operator; every exchange in it is keyed (zero cartesians).
        |Every banded pair operator bands on IDS ONLY through `Dedup`'s one
        |banding path — `d_minhash_pairs` (and the trio built on it),
        |`d_jaccard_lowt` and `d_embed_neardup`: the band self-join's inputs
        |carry (band-key, id), never the signature, shingle set or vector,
        |which is re-joined per candidate pair after the dedup
        |(spec-asserted in OptimizationR06Spec); the extra bcast and codegen
        |entries are those re-joins. `d_simhash_pairs` alone carries its
        |8-byte fingerprint through its band exchange.
        |
        || query | shuffles | bcasts | sorts | cartesian | codegen | pushed |
        ||---|---|---|---|---|---|---|""".stripMargin
    (header +: rows).mkString("\n") + "\n"
  }

  /** Records the SQL executions that end on `spark`, in the order they end. */
  private[graft] final class Executions(spark: SparkSession) extends QueryExecutionListener {
    private val seen = mutable.ArrayBuffer[(String, QueryExecution)]()
    override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
      seen.synchronized { seen += action -> qe }
    override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    /** The (action, execution) pairs seen since the previous call. */
    def take(): Seq[(String, QueryExecution)] = {
      GraftListenerBus.drain(spark.sparkContext)
      seen.synchronized { try seen.toSeq finally seen.clear() }
    }
  }

  private[graft] def watching[T](spark: SparkSession)(body: Executions => T): T = {
    val ex = new Executions(spark)
    spark.listenerManager.register(ex)
    try body(ex) finally spark.listenerManager.unregister(ex)
  }

  /** Drops every cached table and persisted RDD, as perfbench does between
    * operations. */
  private def free(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = args.headOption.getOrElse("time")
    val spark = LocalSession.builder("graft-bench-extra", LocalSession.cores()).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try mode match {
      case "time" =>
        val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "3").toInt
        val names = if (args.length > 1) args.drop(1).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        time(spark, sfDir, names, reps)
      case "plan" =>
        plan(spark, sfDir, Paths.get(args(1)), args(2), args.drop(3).toSeq)
      case "audit" =>
        val report = audit(spark, sfDir)
        Files.writeString(Paths.get("PLAN_AUDIT.md"), report)
        println(report)
      case other => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }
}
