package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusOps, Dedup}
import graft.functions.ExprUtils.bind

/** Round-6 optimization contracts:
  *  - the minhash LSH band self-join exchanges ids only (never the
  *    signature column) — the VERDICT r5 "What's wrong #1" fix;
  *  - flagOverlapBloom carries the bloom as a scalar subquery, not a plan
  *    Literal — "What's wrong #2";
  *  - ExprUtils.bind is a pure let-binding (same values, nulls included);
  *  - no catalog query that materializes (a sort tail's or an operator's
  *    checkpoint) leaves anything in the CacheManager, and a sort tail's
  *    checkpoint blocks go once the result is unreachable.
  */
class OptimizationR06Spec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon eta"),
    (3L, "one two three four five six seven"),
    (4L, "alpha beta gamma delta epsilon zeta"),
    (5L, "unrelated words entirely different content here")
  ).toDF("doc_id", "text")

  test("minhash band self-join carries no signature column through its exchange") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      shingleLen = 2, numHashes = 8, bands = 4, threshold = 0.25)
    // find every join keyed on the band columns (_b, _h) in the optimized
    // plan and assert no side's output carries the signature
    val joins = pairs.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.references.exists(_.name == "_h")) => j
    }
    assert(joins.nonEmpty, "expected a band-keyed self-join in the plan")
    joins.foreach { j =>
      val childCols = (j.left.output ++ j.right.output).map(_.name)
      assert(!childCols.exists(_.startsWith("_sig")),
        s"band join must exchange ids only, but its inputs carry: $childCols")
    }
    // and the results are still the verified near-dup pairs
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 4L)), s"exact dup pair must survive, got $got")
  }

  test("flagOverlapBloom: bloom rides a scalar subquery, not a plan literal") {
    val evalDocs = docs.where($"doc_id" === 1L)
    val train = docs.where($"doc_id" =!= 1L)
    val flagged = CorpusOps.flagOverlapBloom(train, evalDocs, "text", "doc_id",
      n = 2, expectedItems = 1000L, fpp = 0.01)
    // no BinaryType literal anywhere in the analyzed plan (the old shape
    // embedded the serialized filter bytes as a Literal in every task
    // closure); the filter must arrive via a scalar subquery instead
    val binLits = flagged.queryExecution.analyzed.collect {
      case p => p.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType == org.apache.spark.sql.types.BinaryType => l
      })
    }.flatten
    assert(binLits.isEmpty, s"bloom bytes leaked into ${binLits.size} plan Literal(s)")
    val subs = flagged.queryExecution.analyzed.collect {
      case p => p.expressions.flatMap(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery => s
      })
    }.flatten
    assert(subs.nonEmpty, "expected the bloom aggregate as a scalar subquery")
    // result contract unchanged: identical to the exact flagOverlap
    val exact = CorpusOps.flagOverlap(train, evalDocs, "text", "doc_id", n = 2)
      .collect().map(_.toSeq).toSet
    assert(flagged.collect().map(_.toSeq).toSet == exact)
  }

  test("ExprUtils.bind is a pure let-binding (values identical, nulls flow through)") {
    val df = Seq(("a b c d"), (""), (null: String)).toDF("t")
    val unbound = df.select(
      size(Dedup.tokens(col("t"))).as("n"),
      Dedup.shingles(col("t"), 2).as("sh"))
    // shingles is itself bind-based now; compare against a hand-rolled
    // unbound construction of the same windows
    val toks = Dedup.tokens(col("t"))
    val naive = df.select(
      size(toks).as("n"),
      when(size(toks) >= 2,
        array_distinct(transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", slice(toks, i, lit(2))))))
        .otherwise(array().cast("array<string>")).as("sh"))
    assert(unbound.collect().map(_.toSeq).toSeq == naive.collect().map(_.toSeq).toSeq)
    // scalar bind on a nullable value
    val b = df.select(bind(length(col("t")))(l => l + l).as("twice")).collect().map(_.get(0))
    assert(b.toSeq == Seq(7 * 2, 0, null))
  }

  /** The queries that end in the catalog's `sortedResult` and call no
    * materializing operator. */
  private val sortTails = Seq("d_html_extract", "d_pii_redact", "d_c4_filter",
    "d_gopher_quality", "d_lang_guess", "d_repetition", "d_quality",
    "m_jpeg_decode", "m_resize", "d_curate_e2e", "d_embed_neardup")

  /** The queries whose operators put an input behind a checkpoint (Dedup
    * pairs, heavy hitters, chunk packing, d_curate_full's sample). */
  private val operatorCheckpoints = Seq("d_chunk_pack", "d_curate_full",
    "d_dedup_keep_best", "d_dup_clusters", "d_heavy_hitters", "d_jaccard_lowt",
    "d_jaccard_pairs", "d_minhash_pairs", "d_pack_segments", "d_simhash_pairs")

  test("materializing catalog queries leave nothing in the CacheManager") {
    val cacheManager = spark.sharedState.cacheManager
    (sortTails ++ operatorCheckpoints).foreach { q =>
      spark.catalog.clearCache()
      assert(SparkEntry.queries(q)(spark, sfDir).collect().nonEmpty, q)
      assert(cacheManager.isEmpty, s"$q left a cached relation")
    }
  }

  test("a sort tail's checkpoint blocks are freed once its result is unreachable") {
    // built and run in a method so no reference to the result outlives it
    def runAndForget(): Int = {
      val df = SparkEntry.queries("m_resize")(spark, sfDir)
      df.collect()
      val rdd = df.queryExecution.logical.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }
      assert(rdd.nonEmpty, "expected the sort to read a checkpoint")
      assert(held(rdd.get), "the checkpoint holds blocks while its result is reachable")
      rdd.get
    }
    def held(id: Int) = spark.sparkContext.getRDDStorageInfo.exists(_.id == id)
    val id = runAndForget()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (held(id) && System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
    assert(!held(id), s"checkpoint rdd $id still holds blocks 30 s after its result went")
  }
}
