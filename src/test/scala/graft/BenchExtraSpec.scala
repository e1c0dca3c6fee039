package graft

import java.nio.file.{Files, Paths}

/** The side harness's `plan` and `audit` modes on the shared test session. */
class BenchExtraSpec extends SparkTestBase {
  private val names = Seq("q1_agg", "d_minhash_pairs")

  test("plan writes each query's formatted physical plan to <query>_<suffix>.txt") {
    val out = Paths.get(tmpPath("plans"))
    val files = BenchExtra.plan(spark, sfDir, out, "t", names)
    assert(files == names.map(n => out.resolve(s"${n}_t.txt")))
    files.foreach { f =>
      val txt = Files.readString(f)
      assert(txt.startsWith("== Physical Plan ==\nAdaptiveSparkPlan ("), f)
      // formatted mode: the operator tree, then one numbered detail block per node
      assert(txt.contains("\n\n(1) "), f)
    }
    // d_minhash_pairs explodes each signature into its LSH band keys
    val minhash = Files.readString(files(1))
    assert(minhash.contains("Generate (") && minhash.contains("explode("))
  }

  test("audit gives each query one well-formed row under the table header") {
    val report = BenchExtra.audit(spark, sfDir, names)
    val lines = report.split("\n").toSeq
    assert(lines.head.startsWith("# PLAN_AUDIT") && lines.head.contains("sf0.001") &&
      lines.head.contains(spark.sparkContext.master))
    val header = lines.indexOf("| query | shuffles | bcasts | sorts | cartesian | codegen | pushed |")
    assert(header > 0 && lines(header + 1) == "|---|---|---|---|---|---|---|")
    val rows = lines.drop(header + 2)
    val row = """\| (\S+)\s* \|\s+(\d+) \|\s+(\d+) \|\s+(\d+) \|\s+(\d+) \|\s+(\d+) \|\s+(yes|no) \|""".r
    assert(rows.map {
      case row(name, _*) => name
      case bad => fail(s"malformed audit row: $bad")
    } == names)
    // q1_agg groups and orders: at least one shuffle, no cartesian
    val row(_, shuffles, _, _, cartesian, _, _) = rows.head
    assert(shuffles.toInt > 0 && cartesian.toInt == 0)
    // d_minhash_pairs' final plan reads its sort's checkpoint and holds only
    // the range exchange; the row also counts the band self-join's
    // exchanges, which ran inside the checkpoint
    val minhash = SparkEntry.queries("d_minhash_pairs")(spark, sfDir)
    minhash.collect()
    assert(BenchExtra.shape(Seq(minhash.queryExecution.executedPlan)).shuffles == 1)
    val row(_, minhashShuffles, _, _, _, _, _) = rows(1)
    assert(minhashShuffles.toInt > 1)
    spark.catalog.clearCache()
  }
}
