package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

/** Dedup operators vs brute-force oracles on a corpus WITH planted
  * duplicates and near-duplicates. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val vocab = Seq("spark", "query", "join", "filter", "table", "scan",
    "merge", "sort", "group", "window", "stream", "batch", "row", "column",
    "fast", "slow", "data", "key", "value", "hash")

  /** 300 base docs + exact dups + near-dups (1-2 token edits). */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val base = (0L until 300L).map { i =>
      i -> (0 until 12 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val exactDups = (0 until 30).map(i => (1000L + i) -> base(i * 7 % 300)._2)
    val nearDups = (0 until 30).map { i =>
      val toks = base(i * 11 % 300)._2.split(" ")
      toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
      (2000L + i) -> toks.mkString(" ")
    }
    base ++ exactDups ++ nearDups
  }

  private lazy val docs = corpus.toDF("doc_id", "text")

  private def jaccard(a: String, b: String, n: Int): Double = {
    def sh(s: String) = s.split(" ").sliding(n).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("exactDedupByHash finds every planted exact duplicate") {
    val got = Dedup.exactDedupByHash(docs, "text", "doc_id")
    val withDups = got.where($"dup_count" >= 2).count()
    // ≥ the planted 30 (random collisions possible but none expected at n=300)
    val textDups = corpus.groupBy(_._2).count(_._2.length >= 2)
    assert(withDups == textDups)
    assert(got.agg(sum($"dup_count")).as[Long].head() == corpus.size)
  }

  test("ngramJaccardPairs matches the brute-force pairwise oracle exactly") {
    val thr = 0.5
    val got = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleLen = 3, threshold = thr, maxShingleFreq = 100000)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val exp = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus
      if ia < ib && jaccard(ta, tb, 3) >= thr
    } yield (ia, ib)).toSet
    assert(got == exp)
    assert(exp.size >= 30, s"oracle should contain the planted dups, got ${exp.size}")
  }

  test("prefix-filter and inverted-index jaccard plans produce identical pairs") {
    for (t <- Seq(0.4, 0.6, 0.8)) {
      val a = Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id", 3, t, 100000)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val b = Dedup.ngramJaccardPairsInverted(docs, "text", "doc_id", 3, t, 100000)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(a == b, s"plans disagree at t=$t")
      assert(a.nonEmpty)
    }
  }

  test("prefix and inverted plans equal the oracle on repeated windows and identical texts") {
    // windows repeating inside one doc, and the same texts under distinct
    // ids: the (id, shingle) rows must count each window once per doc
    val tricky = Seq(
      1L -> "a b c a b c a b c", 2L -> "a b c a b c a b c", 3L -> "a b c a b c",
      4L -> "a b c a b d", 5L -> "c a b c a b c", 6L -> "x y z x y z",
      7L -> "x y z w", 8L -> "a a a a a", 9L -> "a a a a", 10L -> "a a a a a")
    val df = tricky.toDF("doc_id", "text")
    def scored(d: org.apache.spark.sql.DataFrame) =
      d.select($"id_a", $"id_b", round($"jaccard" * 10000).cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    for (t <- Seq(0.4, 0.6, 0.8, 1.0)) {
      val exp = (for {
        (ia, ta) <- tricky; (ib, tb) <- tricky
        j = jaccard(ta, tb, 3) if ia < ib && j >= t
      } yield (ia, ib, math.round(j * 10000))).toSet
      assert(scored(Dedup.ngramJaccardPairsPrefix(df, "text", "doc_id", 3, t, 100000)) == exp,
        s"prefix plan at t=$t")
      assert(scored(Dedup.ngramJaccardPairsInverted(df, "text", "doc_id", 3, t, 100000)) == exp,
        s"inverted plan at t=$t")
      assert(exp.contains((1L, 2L, 10000L)))
    }
  }

  test("minhash-verify low-t plan: exact precision, banding recall vs inverted plan") {
    // the low-threshold dispatch target: candidates from r=1/b=64 banded
    // MinHash, verify exact. Precision is exact by construction; recall on
    // this corpus must be total (miss probability (1-J)^64 ≤ 2.8e-4 per
    // pair at J=t — for the planted pairs well above t it is ~0)
    for (t <- Seq(0.12, 0.25)) {
      val a = Dedup.ngramJaccardPairsMinhashVerify(docs, "text", "doc_id", 3, t)
        .select($"id_a", $"id_b", round($"jaccard" * 10000).cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      val b = Dedup.ngramJaccardPairsInverted(docs, "text", "doc_id", 3, t, 100000)
        .select($"id_a", $"id_b", round($"jaccard" * 10000).cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      assert(a == b, s"minhash-verify and inverted plans disagree at t=$t")
      assert(a.nonEmpty)
    }
    // dispatch: below 0.4 ngramJaccardPairs routes to the minhash-verify plan
    val routed = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.12, 100000)
    assert(routed.queryExecution.logical.toString.contains("jaccard(_sh_a"))
  }

  test("minhashLshPairs recalls high-similarity pairs (est-jaccard agreement)") {
    val got = Dedup.minhashLshPairs(docs, "text", "doc_id",
      shingleLen = 3, numHashes = 64, bands = 32, threshold = 0.4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // every true pair with J >= 0.8 must be found (LSH at b=32,r=2 →
    // P(detect) = 1-(1-J^2)^32 ≥ 0.999999 at J=0.8)
    val mustFind = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus
      if ia < ib && jaccard(ta, tb, 3) >= 0.8
    } yield (ia, ib)).toSet
    assert(mustFind.nonEmpty)
    assert(mustFind.subsetOf(got),
      s"missed ${(mustFind -- got).take(5)} of ${mustFind.size}")
    // and nothing with true J < 0.2 sneaks past the est_jaccard >= 0.4 verify
    val falsePos = got.filter { case (a, b) =>
      jaccard(corpus.find(_._1 == a).get._2, corpus.find(_._1 == b).get._2, 3) < 0.2
    }
    assert(falsePos.isEmpty, s"false positives: ${falsePos.take(5)}")
  }

  test("simhash: exact duplicates collide; hamming to unrelated docs is large") {
    val fps = docs.select($"doc_id", Dedup.simhash($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    // exact dup pairs → identical fingerprints
    (0 until 30).foreach { i =>
      assert(fps(1000L + i) == fps((i * 7 % 300).toLong))
    }
    // random doc pairs: mean hamming near 30 (60 independent-ish bits)
    val rnd = new scala.util.Random(3)
    val hs = (0 until 200).map { _ =>
      val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
      java.lang.Long.bitCount(fps(a) ^ fps(b))
    }
    val mean = hs.sum.toDouble / hs.size
    assert(mean > 18 && mean < 42, s"mean hamming $mean")
  }

  test("simhashPairs: COMPLETE recall within the hamming budget (brute-force oracle)") {
    // VERDICT round-1 regression: bands must cover the budget (pigeonhole);
    // verify precision AND recall against exact fingerprints.
    val fps = docs.select($"doc_id", Dedup.simhash($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    for ((budget, bands) <- Seq((3, 4), (10, 12))) {
      val got = Dedup.simhashPairs(docs, "text", "doc_id",
        maxHamming = budget, bands = bands)
        .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect()
      // precision: every returned pair has the claimed exact hamming
      got.foreach { case (a, b, h) =>
        assert(java.lang.Long.bitCount(fps(a) ^ fps(b)) == h && h <= budget)
      }
      // recall: EVERY true pair within the budget is present
      val ids = fps.keys.toSeq.sorted
      val expected = (for {
        ai <- ids.indices.iterator; bi <- (ai + 1 until ids.size).iterator
        a = ids(ai); b = ids(bi)
        if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= budget
      } yield (a, b)).toSet
      val gotPairs = got.map(p => (p._1, p._2)).toSet
      assert(expected.subsetOf(gotPairs),
        s"budget=$budget missed ${(expected -- gotPairs).take(5)} of ${expected.size}")
      assert(expected.nonEmpty) // planted exact dups guarantee hamming-0 pairs
    }
  }

  test("simhashPairs rejects a hamming budget the banding cannot cover") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 14) // bands=4
    }
  }

  test("portable lane hash gives the same LSH pair semantics as the engine hash") {
    // same plan, different hash family: the verify step makes both exact
    // w.r.t. their own signatures; planted exact dups must appear in both
    val portable = Dedup.minhashLshPairs(docs, "text", "doc_id",
      shingleLen = 3, numHashes = 32, bands = 16, threshold = 0.9,
      signature = Dedup.minhashSignaturePortable)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    (0 until 30).foreach { i =>
      val pair = ((i * 7 % 300).toLong, 1000L + i)
      assert(portable.contains(pair), s"missing exact dup $pair")
    }
  }

  test("embeddingNearDupPairs: exact precision and measured recall vs brute force") {
    // clustered embeddings WITH planted near-dups (small perturbations)
    val dim = 16
    val rnd = new scala.util.Random(23)
    val centroids = Array.fill(6, dim)(rnd.nextGaussian())
    val base = (0L until 200L).map { i =>
      i -> Array.tabulate(dim)(j => (centroids((i % 6).toInt)(j) + rnd.nextGaussian() * 0.3).toFloat)
    }
    val nearDups = (0 until 20).map { i =>
      (1000L + i) -> base(i * 9 % 200)._2.map(x => x + rnd.nextGaussian().toFloat * 0.02f)
    }
    val vecs = base ++ nearDups
    val df = vecs.toDF("vec_id", "embedding")
    // threshold 0.9: t^2 = 81/100
    val planes = graft.operators.Similarity.planeMatrix(16, dim)
    val got = Dedup.embeddingNearDupPairs(df, "embedding", "vec_id",
      t2n = 81, t2d = 100, planes = planes, bands = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet

    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (j <- 0 until dim) {
        d += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j)
      }
      d / math.sqrt(na * nb)
    }
    val truePairs = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && cos(va, vb) >= 0.9
    } yield (ia, ib)).toSet
    // precision is exact: every returned pair really clears the threshold
    // (integer test on quantized vectors ⇒ allow only quantization-boundary
    // slack, which the 0.9-vs-real-cosine margin of planted dups dwarfs)
    got.foreach { case (a, b) =>
      val c = cos(vecs.find(_._1 == a).get._2, vecs.find(_._1 == b).get._2)
      assert(c >= 0.9 - 1e-5, s"pair ($a,$b) cosine $c below threshold")
    }
    // recall: banding may miss pairs sharing no band, but near-identical
    // vectors agree on almost every plane — all planted dups must be found
    val recall = truePairs.count(got.contains).toDouble / truePairs.size
    assert(recall >= 0.95, s"recall $recall over ${truePairs.size} true pairs")
    (0 until 20).foreach { i =>
      val pair = ((i * 9 % 200).toLong, 1000L + i)
      assert(got.contains(pair), s"missing planted near-dup $pair")
    }
  }

  test("short docs are not spurious near-duplicates (sentinel-signature regression)") {
    // docs below the shingle/token floor have no fingerprint in these
    // families; the old behavior gave them all the sentinel signature and
    // paired every two of them (est_jaccard=1.0 / hamming 0)
    val df = Seq(
      (1L, "hello world"), (2L, "totally different"), (3L, ""), (4L, "x"),
      (5L, "spark query join filter table scan merge sort"),
      (6L, "spark query join filter table scan merge sort")
    ).toDF("doc_id", "text")
    val mh = Dedup.minhashLshPairs(df, "text", "doc_id",
      shingleLen = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(mh == Set((5L, 6L)), s"got $mh") // only the real duplicate pair
    val sh = Dedup.simhashPairs(Seq((1L, ""), (2L, ""), (3L, "real text here"),
      (4L, "real text here")).toDF("doc_id", "text"), "text", "doc_id")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(sh == Set((3L, 4L)), s"got $sh") // empty docs pair with nothing
  }

  test("tokens/shingles edge cases: empty text, single token, punctuation") {
    val df = Seq((1L, ""), (2L, "word"), (3L, "a-b c!d"), (4L, "  x  ")).toDF("id", "text")
    val rows = df.select($"id", Dedup.tokens($"text"), Dedup.shingles($"text", 3))
      .as[(Long, Seq[String], Seq[String])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(1L) == ((Seq(), Seq())))
    assert(rows(2L) == ((Seq("word"), Seq())))
    assert(rows(3L)._1 == Seq("a", "b", "c", "d"))
    assert(rows(3L)._2 == Seq("a b c", "b c d"))
    assert(rows(4L) == ((Seq("x"), Seq())))
  }

  test("exactDedupIncrement at any split equals the full recompute") {
    val rnd = new scala.util.Random(17)
    // heavy duplication so state and delta genuinely share keys
    val docs = (0L until 300L).map(i => (i, "text" + rnd.nextInt(40)))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().toSet
    val full = rows(Dedup.exactDedupByHash(docs, "text", "doc_id"))
    for (split <- Seq(0L, 1L, 150L, 299L, 300L)) {
      val state = Dedup.exactDedupByHash(
        docs.where($"doc_id" < split), "text", "doc_id")
      val got = rows(Dedup.exactDedupIncrement(state,
        docs.where($"doc_id" >= split), "text", "doc_id"))
      assert(got == full, s"split=$split")
    }
  }

  test("tokenCount splits on ALL whitespace (tabs/newlines, not just spaces)") {
    val df = Seq((1L, "one two\tthree\nfour\r\nfive"), (2L, "  padded  "), (3L, ""))
      .toDF("id", "text")
    val got = df.select($"id", TextAnalysis.tokenCount($"text"))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 5, 2L -> 1, 3L -> 0))
  }
}
