package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The engine's one side harness. NOT part of the graded bench contract —
  * `Bench.scala` stays the frozen bench entry point; per-layer numbers
  * come from `perfbench --trace 1`. Every mode runs at
  * local[SPARK_GRAFT_CPUS] (default: the host's processor count) over the
  * tables in SPARK_GRAFT_SF_DIR.
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra time q1 q2 ..."   — noop-time queries
  *       (reps via SPARK_GRAFT_EXTRA_REPS, default 3; per-rep seconds)
  *   sbt "runMain graft.BenchExtra plan OUTDIR SUFFIX q1 q2 ..."
  *       — write OUTDIR/<query>_<SUFFIX>.txt explain("formatted") dumps
  *   sbt "runMain graft.BenchExtra audit"   — write ./PLAN_AUDIT.md
  */
object BenchExtra {

  private def session(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def runForced(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Noop-sink seconds of each query, `reps` runs apiece with the cache
    * cleared before each, after one warmup query (Bench's catalog
    * methodology). Prints one `EXTRA` line per query. */
  def time(spark: SparkSession, sfDir: String, names: Seq[String],
           reps: Int): Seq[(String, Seq[Double])] = {
    try runForced(SparkEntry.queries("q1_agg")(spark, sfDir))
    catch { case _: Throwable => () }
    names.map { name =>
      spark.sparkContext.setJobDescription(s"extra: $name")
      val ts = (1 to reps).map { _ =>
        spark.sqlContext.clearCache()
        val t0 = System.nanoTime()
        runForced(SparkEntry.queries(name)(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"EXTRA $name%-24s min=${ts.min}%7.3f  reps=${ts.map(t => f"$t%.3f").mkString(",")}")
      name -> ts
    }
  }

  /** Writes `outDir/<query>_<suffix>.txt`, the query's unexecuted
    * `explain("formatted")` plan, for each query; returns the files. */
  def plan(spark: SparkSession, sfDir: String, outDir: Path, suffix: String,
           names: Seq[String]): Seq[Path] = {
    Files.createDirectories(outDir)
    names.map { name =>
      val txt = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      val file = outDir.resolve(s"${name}_$suffix.txt")
      Files.writeString(file, txt)
      println(s"PLAN $name -> $file")
      file
    }
  }

  /** Physical-plan audit — the "is this the plan you'd want at 100 TB"
    * check, mechanized. For every query it reports:
    *   shuffles    — ShuffleExchange count (every one is a full network pass
    *                 of its input at scale);
    *   bcasts      — BroadcastExchange count (dimension sides);
    *   sorts       — Sort operators (only deterministic output ORDER BYs
    *                 and window/sort-merge internals should appear);
    *   cartesian   — BroadcastNestedLoop/CartesianProduct joins (only the
    *                 documented brute-force baselines may have one);
    *   codegen     — WholeStageCodegen region count (higher fragmentation =
    *                 more virtual-call boundaries);
    *   pushed      — whether the parquet scan carries PushedFilters.
    * Returns the PLAN_AUDIT.md report, one table row per query. */
  def audit(spark: SparkSession, sfDir: String,
            names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted): String = {
    def count(hay: String, needle: String): Int =
      needle.r.findAllMatchIn(hay).length

    val rows = names.map { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect() // finalize the adaptive plan so codegen regions appear
        val plan = df.queryExecution.executedPlan.toString
        val shuffles = count(plan, "Exchange (hashpartitioning|rangepartitioning|SinglePartition)")
        val bcasts = count(plan, "BroadcastExchange")
        val sorts = count(plan, "\\bSort\\b")
        val cartesian = count(plan, "CartesianProduct|BroadcastNestedLoopJoin")
        // whole-stage codegen regions print as "*(n) Operator"
        val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
          .map(_.group(1).toInt).toSet.size
        val pushed = plan.contains("PushedFilters: [") &&
          !plan.split("PushedFilters: ").drop(1).forall(_.startsWith("[]"))
        f"| $name%-22s | $shuffles%8d | $bcasts%6d | $sorts%5d | $cartesian%9d | $codegen%7d | ${if (pushed) "yes" else "no"}%6s |"
      } catch {
        case e: Throwable => f"| $name%-22s | ERROR: ${e.getMessage.take(40)} |"
      }
    }
    val sf = Paths.get(sfDir).getFileName
    val header =
      s"""# PLAN_AUDIT — physical-plan shape of every catalog query ($sf, ${spark.sparkContext.master})
        |
        |Generated by `graft.BenchExtra audit` from the FINALIZED adaptive plan
        |(post-execution). Counts are textual occurrences in the plan tree —
        |AQE prints completed query stages inline, so exchanges appear roughly
        |twice (stage + reuse); treat columns as relative indicators, not
        |absolutes. The final `orderBy` each query carries for oracle
        |determinism contributes one range-partition exchange + sort apiece.
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
        |dispatches — since round 5 — to the banded-MinHash-candidates +
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
        |
        |Round-6 notes: `d_minhash_pairs` (and the trio built on it) now
        |bands on IDS ONLY — the band self-join's inputs carry
        |(band-key, id), never the signature array, which is re-joined per
        |candidate pair after the dedup (spec-asserted in
        |OptimizationR06Spec); the extra bcast/codegen entries are those
        |re-joins. Queries that cache an intermediate (d_curate_full's
        |sampled projection, packChunks' token projection) print the
        |cached subtree's FULL child plan at every InMemoryTableScan
        |reference, so their textual shuffle counts inflate (d_curate_full
        |reads 208 textual vs 66 in round 5) while actual executed
        |exchanges and wall time DROPPED (12.2 s → 4.1 s at sf0.1,
        |BENCH/run_34 vs run_35) — the textual-count caveat above, squared.
        |
        || query | shuffles | bcasts | sorts | cartesian | codegen | pushed |
        ||---|---|---|---|---|---|---|""".stripMargin
    (header +: rows).mkString("\n") + "\n"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = args.headOption.getOrElse("time")
    val spark = session()
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
