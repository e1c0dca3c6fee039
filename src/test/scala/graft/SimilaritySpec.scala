package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 16
  /** clustered vectors: 8 centroids + noise, so ANN buckets are meaningful */
  private lazy val vecs: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11)
    val centroids = Array.fill(8, dim)(rnd.nextGaussian().toFloat)
    (0L until 500L).map { i =>
      val c = centroids((i % 8).toInt)
      i -> c.map(x => x + rnd.nextGaussian().toFloat * 0.15f)
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (j <- 0 until dim) {
      dot += a(j).toDouble * b(j).toDouble
      na += a(j).toDouble * a(j).toDouble
      nb += b(j).toDouble * b(j).toDouble
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private lazy val data = vecs.filter(_._1 >= 10).toDF("vec_id", "embedding")
  private lazy val queries = vecs.filter(_._1 < 10)
    .map { case (i, v) => (i, v) }.toDF("q_id", "q_vec")

  private def bruteOracle(k: Int): Map[Long, Seq[Long]] =
    vecs.filter(_._1 < 10).map { case (qid, qv) =>
      qid -> vecs.filter(_._1 >= 10)
        .map { case (i, v) => (-cosine(v, qv), i) }.sortBy(identity).take(k).map(_._2)
    }.toMap

  test("bruteForceTopK matches the scalar oracle exactly") {
    val k = 5
    val got = Similarity.bruteForceTopK(data, queries, k)
      .select($"q_id", $"sim_rank", $"vec_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got == bruteOracle(k))
  }

  test("annTopK achieves high recall@5 on clustered vectors") {
    val k = 5
    val exact = bruteOracle(k)
    val got = Similarity.annTopK(data, queries, k, nPlanes = 16, bands = 8)
      .select($"q_id", $"sim_rank", $"vec_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      ids.count(got.getOrElse(q, Set()).contains).toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5 = $mean")
  }

  test("cosine column agrees with scalar cosine to 1e-12") {
    val df = Seq((vecs(0)._2, vecs(1)._2)).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c")).as[Double]
    assert(math.abs(df.head() - cosine(vecs(0)._2, vecs(1)._2)) < 1e-12)
  }

  test("ivfTopK achieves high recall@5 with nProbe=3 and exact ranks within probed cells") {
    val k = 5
    // deterministic centroid sample: every 50th id (10 centroids)
    val cents = Similarity.sampleCentroids(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", stride = 50)
    assert(cents.size == 10)
    val exact = bruteOracle(k)
    val res = Similarity.ivfTopK(data, queries, cents, k, nProbe = 3)
      .select($"q_id", $"sim_rank", $"vec_id", $"cosine")
      .as[(Long, Int, Long, Double)].collect()
    val got = res.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // recall vs brute force (IVF trades recall for candidate count)
    val recalls = exact.map { case (q, ids) =>
      ids.count(got.getOrElse(q, Array()).map(_._3).toSet.contains).toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean IVF recall@5 = $mean")
    // within-result exactness: reported cosine matches the scalar oracle
    // and ranks are (cosine desc, id asc)-ordered
    val byId = vecs.toMap
    res.foreach { case (q, _, d, c) =>
      assert(math.abs(c - cosine(byId(d), byId(q))) < 1e-12)
    }
    got.values.foreach { rows =>
      val ordered = rows.map(r => (-r._4, r._3)).toSeq
      assert(ordered == ordered.sorted, "ranks must follow (cosine desc, id asc)")
    }
  }

  test("refineCentroids (spherical k-means) raises IVF recall at the same nProbe") {
    val k = 5
    val df = vecs.toDF("vec_id", "embedding")
    val raw = Similarity.sampleCentroids(df, "vec_id", "embedding", stride = 50)
    // refine over a 10× denser stride than the centroid sample (a sample
    // equal to the centroid set is a Lloyd fixed point by construction)
    val refined = Similarity.refineCentroids(df, "vec_id", "embedding", raw,
      stride = 5, iters = 2)
    // deterministic: same input → identical centroids, ids preserved
    assert(Similarity.refineCentroids(df, "vec_id", "embedding", raw,
      stride = 5, iters = 2) == refined)
    assert(refined.map(_._1) == raw.map(_._1))
    val exact = bruteOracle(k)
    def recall(cents: Seq[(Long, Seq[Double])], nProbe: Int): Double = {
      val got = Similarity.ivfTopK(data, queries, cents, k, nProbe = nProbe)
        .select($"q_id", $"sim_rank", $"vec_id").as[(Long, Int, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
      val rs = exact.map { case (q, ids) =>
        ids.count(got.getOrElse(q, Set.empty).contains).toDouble / k
      }
      rs.sum / rs.size
    }
    val rRaw = recall(raw, 2)
    val rRef = recall(refined, 2)
    // Lloyd pulls each centroid to its cluster mean: the refined set must
    // not lose recall, and must clear a HIGHER bar than the sampled set's
    // 0.8 criterion at the same nProbe (observed: raw 0.88 → refined 1.0)
    assert(rRef >= rRaw - 1e-9, s"refined $rRef < raw $rRaw")
    assert(rRef >= 0.95, s"refined IVF recall@5 = $rRef")
  }

  test("ivfTopK with nProbe = all cells equals brute force exactly") {
    val k = 5
    val cents = Similarity.sampleCentroids(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", stride = 50)
    // probing every cell ⇒ candidate set = full data ⇒ identical to brute force
    val got = Similarity.ivfTopK(data, queries, cents, k, nProbe = cents.size)
      .select($"q_id", $"sim_rank", $"vec_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got == bruteOracle(k))
  }

  test("quant1000 rounds halves away from zero (DuckDB round semantics)") {
    import graft.functions.VecOps
    // -0.0625f * 1000 = -62.5 exactly; Math.round would give -62
    assert(VecOps.quant1000(-0.0625) == -63L)
    assert(VecOps.quant1000(0.0625) == 63L)
    assert(VecOps.quant1000(-0.0624) == -62L)
    assert(VecOps.quant1000(0.2) == 200L)
  }

  test("pqEncode picks the exact codebook centroid; ADC self-distance is 0") {
    import graft.functions.VecOps
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val cents = Similarity.pqCodebook(m = 8, k = 8, dsub = 8)
    // build a vector sitting EXACTLY on code pattern (3,1,4,1,5,2,6,5)
    val want = Array(3, 1, 4, 1, 5, 2, 6, 5)
    val v = new Array[Double](64)
    for (s <- 0 until 8; j <- 0 until 8)
      v(s * 8 + j) = cents(s)(want(s))(j) / 1000.0
    val codes = VecOps.pqEncode(new GenericArrayData(v), cents)
    assert((0 until 8).map(codes.getLong).toSeq == want.map(_.toLong).toSeq)
    // the distance table's entry at each chosen code must be 0 (self)
    val dtab = VecOps.pqDistTable(new GenericArrayData(v), cents)
    for (s <- 0 until 8) assert(dtab.getLong(s * 8 + want(s)) == 0L)
  }

  test("pqAdcTopK: doc on the query's own codes ranks first with distance 0") {
    val cents = Similarity.pqCodebook(8, 8, 8)
    def atCodes(pattern: Array[Int]): Seq[Float] =
      (for (s <- 0 until 8; j <- 0 until 8)
        yield (cents(s)(pattern(s))(j) / 1000.0).toFloat)
    val self = Array(2, 2, 2, 2, 2, 2, 2, 2)
    val far = Array(7, 0, 7, 0, 7, 0, 7, 0)
    val data = Seq((10L, atCodes(self)), (11L, atCodes(far)))
      .toDF("vec_id", "embedding")
    val qs = Seq((1L, atCodes(self))).toDF("q_id", "q_vec")
    val got = Similarity.pqAdcTopK(data, qs, k = 2)
      .select($"q_id", $"pq_rank", $"vec_id", $"adc_dist")
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    assert(got(0) == ((1L, 1, 10L, 0L)))
    assert(got(1)._3 == 11L && got(1)._4 > 0L)
  }

  test("ivfPqTopK with nProbe = all cells equals pqAdcTopK exactly") {
    val cents = Similarity.sampleCentroids(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", stride = 50)
    val k = 5
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"q_id", $"pq_rank", $"vec_id", $"adc_dist")
      .as[(Long, Int, Long, Long)].collect().toSet
    // probing every cell makes the IVF candidate set the full data side,
    // so the composition must reduce to plain PQ ADC
    val composed = rows(Similarity.ivfPqTopK(data, queries, cents, k,
      nProbe = cents.size, dim = dim))
    val plain = rows(Similarity.pqAdcTopK(data, queries, k, dim = dim))
    assert(composed == plain)
    assert(plain.nonEmpty)
  }
}
