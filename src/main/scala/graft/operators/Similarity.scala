package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (ANN) over an Array[Float] column.
  *
  * Three tiers, per the build brief:
  *  - brute-force cosine top-k — the exact baseline (O(Q·N), fine when the
  *    query side is dimension-sized and broadcast; the data side is never
  *    shuffled);
  *  - LSH-bucketed ANN (random hyperplane signatures) — the scale path:
  *    candidates share a signature bucket, so the join is equi-hash on the
  *    bucket id instead of a cross product;
  *  - IVF (inverted-file) ANN — the other classic scale path: data rows are
  *    Voronoi-partitioned around a small centroid set by a NARROW argmax
  *    expression (no shuffle on the big side), queries probe only their
  *    `nProbe` nearest cells, and the candidate join is equi-hash on the
  *    cell id.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, accumulated in double
    * (deterministic left-to-right fold — reproducible across runs). */
  def cosine(a: Column, b: Column): Column =
    dotC(a, b) / (normC(a) * normC(b))

  /** Deterministic left-to-right dot product (double accumulation). */
  private def dotC(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm, same fold order as [[cosine]] — precomputing it per
    * ROW before a join gives bit-identical cosines at O((Q+N)·d) instead
    * of O(Q·N·d) norm work inside every candidate pair (these HOFs are
    * CodegenFallback, ~µs per walk — the dominant cost of the exact
    * rank stage). */
  private def normC(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Exact brute-force top-k: for each query row, the k most-cosine-similar
    * data rows. Query side broadcast; data side scanned once, no shuffle
    * until the final per-query top-k (partial top-k per partition via the
    * window's sort would be ideal — Spark's TakeOrderedAndProject handles
    * the global case; per-group we use window row_number which AQE keeps
    * one-shuffle). Deterministic: ties break by data id ascending. */
  def bruteForceTopK(data: DataFrame, queries: DataFrame, k: Int,
                     dataIdCol: String = "vec_id", dataVecCol: String = "embedding",
                     qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = data.withColumn("_dnorm", normC(col(dataVecCol)))
      .crossJoin(broadcast(queries.withColumn("_qnorm", normC(col(qVecCol)))))
      .withColumn("cosine",
        dotC(col(dataVecCol), col(qVecCol)) / (col("_dnorm") * col("_qnorm")))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(dataIdCol).asc)
    joined.withColumn("sim_rank", row_number().over(w))
      .where(col("sim_rank") <= k)
      .select(col(qIdCol), col("sim_rank"), col(dataIdCol), col("cosine"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim j):
    * a reproducible ±1 derived from a splitmix-style avalanche — the same
    * on every executor with no RNG state. */
  private def planeSign(p: Int, j: Column): Column = {
    val h = xxhash64(lit(p), j)
    when(h.bitwiseAND(lit(1L)) === 0L, lit(1.0)).otherwise(lit(-1.0))
  }

  /** `nPlanes`-bit random-hyperplane signature of a vector column (sign of
    * the ±1-weighted component sum per plane), packed into a long. */
  def lshSignature(vec: Column, nPlanes: Int): Column = {
    require(nPlanes <= 63, "signature packs into one long")
    val sig = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast("double") * planeSign(p, j)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    sig.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Deterministic ±1 hyperplane matrix — literal constants derived from
    * md5 once at PLAN time, so the identical matrix can be embedded in a
    * DuckDB oracle verbatim. */
  def planeMatrix(nPlanes: Int, dim: Int): Array[Array[Int]] =
    Array.tabulate(nPlanes, dim) { (p, j) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1 else -1
    }

  /** Oracle-portable LSH signature: the vector is quantized to exact
    * integers (round(x · 10^6) as long), projections are INTEGER dot
    * products against a literal ±1 plane matrix — bit-identical across
    * engines (no float-summation-order hazard), and still a valid
    * sign-random-projection family. One codegen'd kernel per row
    * ([[graft.functions.VecOps.lshSignature]]): the vector is quantized
    * once, not once per plane. */
  def lshSignatureQuantized(vec: Column, planes: Array[Array[Int]]): Column = {
    import graft.functions.VectorExpressions.{lsh_signature, vec_quantize_e6}
    lsh_signature(vec_quantize_e6(vec), planes)
  }

  /** ANN top-k: candidates = data rows sharing a signature band with the
    * query (banded like MinHash-LSH to boost recall), cosine-ranked.
    * Recall < 1 by construction; the companion spec measures it against
    * bruteForceTopK. Pass `signature` = lshSignatureQuantized(_, planes)
    * for the oracle-reproducible variant. */
  def annTopK(data: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 16, bands: Int = 4,
              dataIdCol: String = "vec_id", dataVecCol: String = "embedding",
              qIdCol: String = "q_id", qVecCol: String = "q_vec",
              signature: Column => Column = null): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nPlanes % bands == 0)
    val sigOf: Column => Column =
      Option(signature).getOrElse((v: Column) => lshSignature(v, nPlanes))
    def banded(df: DataFrame, vecCol: String, prefix: String): DataFrame =
      df.withColumn(s"${prefix}sig", sigOf(col(vecCol)))
        .withColumn("_band", Dedup.bitBands(col(s"${prefix}sig"), bands, nPlanes / bands))
        .drop(s"${prefix}sig")
    val d = banded(data.withColumn("_dnorm", normC(col(dataVecCol))), dataVecCol, "d_")
    val q = banded(queries.withColumn("_qnorm", normC(col(qVecCol))), qVecCol, "q_")
    val cand = d.join(broadcast(q), Seq("_band"))
      .drop("_band")
      .dropDuplicates(qIdCol, dataIdCol)
      .withColumn("cosine",
        dotC(col(dataVecCol), col(qVecCol)) / (col("_dnorm") * col("_qnorm")))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(dataIdCol).asc)
    cand.withColumn("sim_rank", row_number().over(w))
      .where(col("sim_rank") <= k)
      .select(col(qIdCol), col("sim_rank"), col(dataIdCol), col("cosine"))
  }

  /** Deterministic PQ codebook: centroid c of subspace s has coordinates
    * cent(s,c,j) = ((s·131 + c·37 + j·17) mod 41 − 20) · 10, on the same
    * ·1000 integer scale as the quantized embeddings. A production system
    * trains these per subspace (k-means on a sample — the same collected-
    * dimension pattern as [[sampleCentroids]]); a FIXED formula keeps the
    * driver oracle codebook-identical on both engines. */
  def pqCodebook(m: Int, k: Int, dsub: Int): Array[Array[Array[Long]]] =
    Array.tabulate(m, k, dsub)((s, c, j) =>
      (((s * 131 + c * 37 + j * 17) % 41) - 20) * 10L)

  /** Product-quantization ADC top-k — the memory-compression scale path
    * for embedding search (Jégou et al. 2011, public): the fact side is
    * encoded once to m small codes (64 float dims → m longs here; m bytes
    * in a packed production layout) by [[graft.functions.VectorExpressions
    * .pq_encode]], one narrow codegen'd node per row — the 10^12-row side
    * is never shuffled and after encoding never rereads the raw vectors.
    * Each query precomputes its m×k asymmetric-distance table
    * (`pq_dist_table`), the query side broadcasts, and the approximate
    * distance is an m-term table lookup per (query, doc). Integer
    * arithmetic end-to-end (⌊·1000⌉ quantization), so the driver oracle
    * reproduces every distance bit-for-bit. Returns
    * (qIdCol, pq_rank, dataIdCol, adc_dist). */
  def pqAdcTopK(data: DataFrame, queries: DataFrame, k: Int,
                m: Int = 8, codebookK: Int = 8, dim: Int = 64,
                dataIdCol: String = "vec_id", dataVecCol: String = "embedding",
                qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{pq_encode, pq_dist_table}
    val cents = pqCodebook(m, codebookK, dim / m)
    val encoded = data.select(col(dataIdCol),
      pq_encode(col(dataVecCol), cents).as("_codes"))
    val qTabs = queries.select(col(qIdCol),
      pq_dist_table(col(qVecCol), cents).as("_dtab"))
    val adc = encoded.join(broadcast(qTabs))
      .withColumn("adc_dist",
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, s) =>
          acc + element_at(col("_dtab"),
            (s * lit(codebookK) + element_at(col("_codes"), s + 1) + 1).cast("int"))))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("adc_dist").asc, col(dataIdCol).asc)
    adc.withColumn("pq_rank", row_number().over(w))
      .where(col("pq_rank") <= k)
      .select(col(qIdCol), col("pq_rank"), col(dataIdCol), col("adc_dist"))
  }

  /** IVF × PQ — the full production ANN shape (FAISS IVFADC, public):
    * IVF Voronoi cells prune the PAIR COUNT (equi-join on cell, no
    * all-pairs anywhere), PQ compresses the PER-PAIR COST (m integer
    * table lookups instead of a 64-dim float dot). The fact side is
    * reduced to (id, cell, m codes) by two narrow codegen'd expressions
    * and never rereads raw vectors; the query side broadcasts (nProbe
    * cells + one m×k integer distance table per query). The ADC ranking
    * is integer-exact, so only cell assignment reuses the (spec- and
    * driver-proven) float cosine ranking. Returns
    * (qIdCol, pq_rank, dataIdCol, adc_dist). */
  def ivfPqTopK(data: DataFrame, queries: DataFrame,
                centroids: Seq[(Long, Seq[Double])], k: Int, nProbe: Int,
                m: Int = 8, codebookK: Int = 8, dim: Int = 64,
                dataIdCol: String = "vec_id", dataVecCol: String = "embedding",
                qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{pq_encode, pq_dist_table}
    val cents = pqCodebook(m, codebookK, dim / m)
    val assigned = data.select(col(dataIdCol),
      element_at(centroidRank(col(dataVecCol), centroids, 1), 1).as("_cell"),
      pq_encode(col(dataVecCol), cents).as("_codes"))
    val probed = queries.select(col(qIdCol),
        explode(centroidRank(col(qVecCol), centroids, nProbe)).as("_cell"),
        pq_dist_table(col(qVecCol), cents).as("_dtab"))
    // a data row has exactly one cell ⇒ a (query, data) pair matches at
    // most once even when the query probes several cells
    val cand = assigned.join(broadcast(probed), Seq("_cell")).drop("_cell")
      .withColumn("adc_dist",
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, s) =>
          acc + element_at(col("_dtab"),
            (s * lit(codebookK) + element_at(col("_codes"), s + 1) + 1).cast("int"))))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("adc_dist").asc, col(dataIdCol).asc)
    cand.withColumn("pq_rank", row_number().over(w))
      .where(col("pq_rank") <= k)
      .select(col(qIdCol), col("pq_rank"), col(dataIdCol), col("adc_dist"))
  }

  /** Centroid ranking as one narrow codegen'd expression
    * ([[graft.functions.VectorExpressions.NearestCentroids]]): the matrix
    * rides as a plan reference object, so the 10^12-row side is never
    * shuffled to discover its cell and the plan tree stays small (the
    * k×3-HOF column form cost seconds of driver re-analysis at k=40). */
  private def centroidRank(vec: Column, cents: Seq[(Long, Seq[Double])], n: Int): Column =
    graft.functions.VectorExpressions.nearest_centroids(vec, cents, n)

  /** Deterministic centroid sample: every `stride`-th id. Collected to the
    * driver by design — the centroid set is the SMALL side (hundreds to
    * thousands of rows), embedded into the plan as literals exactly like a
    * broadcast dimension, while the data side stays fully distributed. */
  def sampleCentroids(df: DataFrame, idCol: String, vecCol: String,
                      stride: Long): Seq[(Long, Seq[Double])] =
    df.where(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq.map(_.toDouble)))
      .sortBy(_._1).toSeq

  /** Spherical k-means (Lloyd) refinement of an IVF centroid set: `iters`
    * iterations over the deterministic stride sample, each one a narrow
    * codegen'd assignment plus one (cell, dim) mean aggregate — the
    * shuffle carries k·dim rows (a few thousand), never the data. Cosine
    * assignment is scale-invariant per centroid, so the un-normalized
    * per-cell mean IS the spherical-k-means update. Centroid ids are
    * stable across iterations; a cell that captures no sample rows keeps
    * its previous centroid (k never shrinks). Pass a `stride` DENSER than
    * the one the centroids were sampled at — a refinement sample equal to
    * the centroid set is a Lloyd fixed point (each cell's mean is its own
    * centroid) and the call is a no-op. Fully deterministic: the
    * stride sample, the (cosine desc, id asc) assignment tie-break, and
    * the averages are all order-independent — same input, same centroids,
    * on any cluster size. */
  def refineCentroids(df: DataFrame, idCol: String, vecCol: String,
                      centroids: Seq[(Long, Seq[Double])],
                      stride: Long, iters: Int = 2): Seq[(Long, Seq[Double])] = {
    require(iters >= 0)
    val sample = df.where(pmod(col(idCol), lit(stride)) === 0)
      .select(col(vecCol).as("_v"))
    var cents = centroids
    var it = 0
    while (it < iters) {
      val means = sample
        .withColumn("_cell", element_at(centroidRank(col("_v"), cents, 1), 1))
        .select(col("_cell"), posexplode(col("_v")).as(Seq("_pos", "_x")))
        .groupBy(col("_cell"), col("_pos"))
        .agg(avg(col("_x")).as("_m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (id, old) => (id, means.getOrElse(id, old)) }
      it += 1
    }
    cents
  }

  /** IVF (inverted-file) ANN top-k: every data row is assigned to its
    * nearest centroid's cell (narrow argmax expression, zero shuffle);
    * each query probes its `nProbe` nearest cells; candidates join
    * equi-hash on the cell id and are cosine-ranked exactly. Recall < 1
    * by construction (a true neighbor can live in an unprobed cell) —
    * measured against bruteForceTopK in the companion spec. This is the
    * standard IVF trade: candidate count ~ nProbe/k_cells of the data,
    * and the only wide op is the equi-join on a uniform-ish cell key. */
  def ivfTopK(data: DataFrame, queries: DataFrame,
              centroids: Seq[(Long, Seq[Double])], k: Int, nProbe: Int = 2,
              dataIdCol: String = "vec_id", dataVecCol: String = "embedding",
              qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(centroids.nonEmpty, "IVF needs a centroid set")
    require(nProbe >= 1 && nProbe <= centroids.size)
    val assigned = data.withColumn("_dnorm", normC(col(dataVecCol)))
      .withColumn("_cell",
        element_at(centroidRank(col(dataVecCol), centroids, 1), 1))
    val probed = queries.withColumn("_qnorm", normC(col(qVecCol)))
      .withColumn("_cell",
        explode(centroidRank(col(qVecCol), centroids, nProbe)))
    // a data row has exactly one cell, so a (query, data) pair can match at
    // most once — no dedup needed after the join
    val cand = assigned.join(broadcast(probed), Seq("_cell")).drop("_cell")
      .withColumn("cosine",
        dotC(col(dataVecCol), col(qVecCol)) / (col("_dnorm") * col("_qnorm")))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(dataIdCol).asc)
    cand.withColumn("sim_rank", row_number().over(w))
      .where(col("sim_rank") <= k)
      .select(col(qIdCol), col("sim_rank"), col(dataIdCol), col("cosine"))
  }
}
