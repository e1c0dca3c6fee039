package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.CorpusOps

/** Corpus-level curation operators: benchmark decontamination and
  * distinctive-term extraction, against hand-computed fixtures. */
class CorpusOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("flagOverlap flags exactly the train docs sharing an n-gram") {
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs")
    ).toDF("doc_id", "text")
    val trainDocs = Seq(
      // shares "quick brown fox jumps" (one 4-shingle window, shifted)
      (1L, "a very quick brown fox jumps high today"),
      // shares nothing 4 tokens long (only 3-token overlap "my box with")
      (2L, "pack my box with care please"),
      // shares two distinct 4-shingles with eval 101
      (3L, "pack my box with five dozen eggs"),
      // disjoint
      (4L, "completely unrelated text about spark plans")
    ).toDF("doc_id", "text")
    val got = CorpusOps.flagOverlap(trainDocs, evalDocs, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 2: "pack my box with" IS a shared 4-shingle — count the windows:
    // eval 101 shingles include "pack my box with", "my box with five", …
    // doc 2 windows: "pack my box with", "my box with care", "box with care
    // please" → exactly one shared. doc 3 windows include "pack my box
    // with" and "my box with five" and "box with five dozen" → three.
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("flagOverlap is empty when nothing overlaps") {
    val e = Seq((9L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val t = Seq((1L, "one two three four five")).toDF("doc_id", "text")
    assert(CorpusOps.flagOverlap(t, e, "text", "doc_id", 4).count() == 0)
  }

  test("topTerms ranks by (tf desc, df asc, term asc)") {
    val docs = Seq(
      (1L, "apple apple banana cherry"),   // tf: apple 2, banana 1, cherry 1
      (2L, "banana banana cherry"),        // tf: banana 2, cherry 1
      (3L, "cherry date")                  // tf: cherry 1, date 1
    ).toDF("doc_id", "text")
    // df: apple 1, banana 2, cherry 3, date 1
    val got = CorpusOps.topTerms(docs, "text", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got((1L, 1)) == ("apple", 2L, 1L))   // top tf
    assert(got((1L, 2)) == ("banana", 1L, 2L))  // tf tie 1: df 2 < cherry's 3
    assert(got((2L, 1)) == ("banana", 2L, 2L))
    assert(got((2L, 2)) == ("cherry", 1L, 3L))
    assert(got((3L, 1)) == ("date", 1L, 1L))    // tf tie: rarer term first
    assert(got((3L, 2)) == ("cherry", 1L, 3L))
  }

  test("topTerms carries no broadcast hint and survives the non-broadcast path") {
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana banana cherry"),
      (3L, "cherry date")
    ).toDF("doc_id", "text")
    val plan = CorpusOps.topTerms(docs, "text", "doc_id", k = 2)
    // the df table is unbounded-cardinality at corpus scale: a hard
    // broadcast() hint would override Spark's size check and OOM — the
    // plan must leave the join strategy to the optimizer/AQE
    def hasHint(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
        case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => u
      }.isDefined
    assert(!hasHint(plan.queryExecution.logical),
      "topTerms must not hard-broadcast the unbounded df table")
    val expected = plan.collect().map(_.toSeq).toSet
    // force the non-broadcast join path and prove results are identical
    val th = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val got = CorpusOps.topTerms(docs, "text", "doc_id", k = 2)
      val exec = got.queryExecution.executedPlan
      assert(!exec.toString.contains("BroadcastHashJoin"),
        "threshold -1 must actually exercise the non-broadcast path")
      assert(got.collect().map(_.toSeq).toSet == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", th)
  }

  test("flagOverlapBloom is identical to the exact broadcast sweep") {
    val rnd = new scala.util.Random(13)
    def sentence() = Seq.fill(6 + rnd.nextInt(6))("w" + rnd.nextInt(30)).mkString(" ")
    val evalDocs = (100L until 120L).map(i => (i, sentence())).toDF("doc_id", "text")
    // train docs: a third copy eval text verbatim (guaranteed overlap),
    // the rest draw from the same small vocabulary (plenty of bloom
    // lookups, some chance collisions for the verify join to scrub)
    val evalTexts = evalDocs.collect().map(_.getString(1))
    val trainDocs = (0L until 60L).map { i =>
      (i, if (i % 3 == 0) evalTexts((i % 20).toInt) else sentence())
    }.toDF("doc_id", "text")
    val exact = CorpusOps.flagOverlap(trainDocs, evalDocs, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // tight bloom (few items) and a sloppy one (high fpp) must BOTH match:
    // no false negatives exist and the exact join scrubs false positives
    for (fpp <- Seq(0.01, 0.5)) {
      val got = CorpusOps.flagOverlapBloom(trainDocs, evalDocs, "text",
          "doc_id", n = 4, expectedItems = 500L, fpp = fpp)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == exact, s"fpp=$fpp")
    }
    assert(exact.nonEmpty)
  }

  test("lmScore: corpus bigram MLE with prefix denominator, floor math") {
    val docs = Seq(
      (1L, "a b a b c"), // bigrams: ab ba ab bc
      (2L, "a b"),       // ab
      (3L, "x")          // too short: 0 bigrams
    ).toDF("doc_id", "text")
    val got = CorpusOps.lmScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // c2: ab=3, ba=1, bc=1; prefix counts: c1(a)=3, c1(b)=2
    // p(ab)=3e6//3=1000000, p(ba)=1e6//2=500000, p(bc)=1e6//2=500000
    assert(got(1L) == ((4L, 750000L))) // (1e6+5e5+1e6+5e5)//4
    assert(got(2L) == ((1L, 1000000L)))
    assert(got(3L) == ((0L, 0L)))
  }

  test("dupSpans counts cross-doc AND within-doc repeated windows") {
    val docs = Seq(
      // 5 tokens -> 3 windows of 3; "one two three" also opens doc 2
      (1L, "one two three four five"),
      // 4 tokens -> 2 windows; "one two three" duplicated vs doc 1
      (2L, "one two three six"),
      // within-doc repeat: "a b c" occurs at positions 1 and 4 (6 windows)
      (3L, "a b c a b c a b"),
      // too short for any window
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val got = CorpusOps.dupSpans(docs, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: windows {one two three, two three four, three four five};
    // only the first is duplicated (shared with doc 2) -> 1/3
    assert(got(1L) == ((3L, 1L, 3333L)))
    // doc 2: {one two three, two three six} -> 1/2
    assert(got(2L) == ((2L, 1L, 5000L)))
    // doc 3: windows at i=1..6: abc bca cab abc bca cab — every window
    // occurs twice within the doc -> 6/6
    assert(got(3L) == ((6L, 6L, 10000L)))
    // doc 4: shorter than n -> zero windows, zero fraction, row kept
    assert(got(4L) == ((0L, 0L, 0L)))
  }

  test("packChunks equals the sequential concat-and-chunk layout, any bucketing") {
    val rnd = new scala.util.Random(7)
    // sparse, shuffled-insert ids exercise uneven bucket boundaries
    val docs = (0 until 200).map { i =>
      val id = i.toLong * 17 + (i % 3)
      val nTok = 1 + rnd.nextInt(40)
      (id, Seq.fill(nTok)("w" + rnd.nextInt(5)).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    // sequential oracle over id order
    val expected = {
      var acc = 0L
      docs.sortBy(_._1).map { case (id, text) =>
        val n = text.split(" ").length.toLong
        val start = acc; acc += n
        (id, n, start, start / 64, (start + n - 1) / 64)
      }.toSet
    }
    for (buckets <- Seq(1, 7, 32)) {
      val got = CorpusOps.packChunks(df, "text", "doc_id",
          chunkTokens = 64, buckets = buckets)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == expected, s"buckets=$buckets")
    }
  }

  test("packChunks matches the sequential layout on degenerate inputs") {
    // the sequential oracle: id order, a null text takes no room and has
    // null counts and offsets
    def oracle(docs: Seq[(Long, String)], c: Long): Set[Row] = {
      var acc = 0L
      docs.sortBy(_._1).map {
        case (id, null) => Row(id, null, null, null, null)
        case (id, text) =>
          val n = text.split(" ").count(_.nonEmpty).toLong
          val start = acc; acc += n
          Row(id, n, start, start / c, if (n > 0) (start + n - 1) / c else start / c)
      }.toSet
    }
    val big = 1L << 53
    val cases = Seq(
      "empty" -> Seq.empty[(Long, String)],
      "one row" -> Seq(5L -> "a b c"),
      "null text" -> Seq(1L -> "a b", 2L -> null, 3L -> "c d e", 4L -> "", 9L -> null),
      "negative ids" -> (-40L to 40L by 3).map(i => i -> Seq.fill((i.abs % 7 + 1).toInt)("w").mkString(" ")),
      "ids >= 2^53" -> (0L until 60L).map(i => (big + i * 1234567L + i % 3) -> ("x " * (i % 5 + 1).toInt).trim),
      "ids near 2^62" -> (0L until 60L).map(i => ((1L << 62) - i * 987654321L) -> ("y " * (i % 4 + 1).toInt).trim),
      "both signs, wide" -> Seq(-(1L << 61) -> "a b", -5L -> "c", 0L -> "d e f", 3L -> "g", (1L << 61) -> "h i"))
    val schema = Seq("doc_id", "n_tokens", "tok_start", "chunk_first", "chunk_last")
      .map(StructField(_, LongType))
    val input = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    for ((label, docs) <- cases; buckets <- Seq(1, 7, 32)) {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }, 3), input)
      val got = CorpusOps.packChunks(df, "text", "doc_id", chunkTokens = 4, buckets = buckets)
      assert(got.schema.map(f => f.copy(nullable = true)) == schema, s"$label: ${got.schema}")
      assert(got.collect().toSet == oracle(docs, 4), s"$label, buckets=$buckets")
    }
  }

  test("packSegments splits boundary-spanning docs with consistent offsets") {
    // chunk size 8: doc 1 (5 toks) fits chunk 0; doc 2 (6 toks) spans
    // chunks 0/1 (3+3); doc 3 (10 toks) spans chunks 1/2 (5+5)
    val docs = Seq(
      (1L, Seq.fill(5)("a").mkString(" ")),
      (2L, Seq.fill(6)("b").mkString(" ")),
      (3L, Seq.fill(10)("c").mkString(" "))
    ).toDF("doc_id", "text")
    val got = CorpusOps.packSegments(docs, "text", "doc_id", chunkTokens = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val expected = Set(
      (0L, 1L, 0L, 0L, 5L), // doc 1 at chunk 0 offset 0, whole
      (0L, 2L, 5L, 0L, 3L), // doc 2 first 3 toks fill chunk 0
      (1L, 2L, 0L, 3L, 3L), // doc 2 last 3 toks open chunk 1
      (1L, 3L, 3L, 0L, 5L), // doc 3 first 5 toks close chunk 1
      (2L, 3L, 0L, 5L, 5L)  // doc 3 last 5 toks open chunk 2
    )
    assert(got == expected)
    // invariants on a larger random corpus: per-doc seg_lens sum to the
    // doc's token count; per-chunk sums never exceed the chunk size
    val rnd = new scala.util.Random(3)
    val big = (0L until 150L)
      .map(i => (i, Seq.fill(1 + rnd.nextInt(30))("w").mkString(" ")))
      .toDF("doc_id", "text")
    val segs = CorpusOps.packSegments(big, "text", "doc_id", chunkTokens = 16)
    val perDoc = segs.groupBy("doc_id").agg(sum("seg_len").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = CorpusOps.packChunks(big, "text", "doc_id", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc == toks)
    val perChunk = segs.groupBy("chunk_id").agg(sum("seg_len").as("s"))
      .collect().map(_.getLong(1))
    assert(perChunk.forall(_ <= 16))
    // every chunk except the last is exactly full
    assert(perChunk.count(_ == 16L) >= perChunk.length - 1)
  }

  test("packChunks window sorts per bucket, never globally") {
    val docs = (0L until 100L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val plan = CorpusOps.packChunks(docs, "text", "doc_id", 16, buckets = 8)
      .queryExecution.executedPlan.toString
    // a global Window.orderBy would plan a single-partition exchange
    assert(!plan.contains("SinglePartition"),
      s"global sort leaked into the pack plan:\n$plan")
  }
}
