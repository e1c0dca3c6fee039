package graft.catalog

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.DerivedTables._
import Results.sortedResult

/** Embeddings: exact, LSH, IVF and PQ top-k, and embedding near-dup pairs. */
object EmbeddingQueries {

  /** Literal ±1 hyperplane matrix shared verbatim by the e_ann_lsh plan
    * and its DuckDB oracle (16 planes × 64 dims, md5-derived constants). */
  private val AnnPlanes: Array[Array[Int]] = Similarity.planeMatrix(16, 64)

  /** SQL rendering of the 16-bit quantized hyperplane signature against the
    * literal AnnPlanes matrix (expects a `qv` BIGINT[] column in scope) —
    * shared verbatim by the e_ann_lsh and d_embed_neardup oracles. */
  private val annSigTermsSql: String =
    AnnPlanes.zipWithIndex.map { case (row, p) =>
      val lits = row.mkString("[", ",", "]")
      s"CASE WHEN list_sum(list_transform(range(1, 65), j -> qv[j] * ($lits)[j])) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")

  /** Shared IVF oracle prelude: doubles view, every-50th seed centroids,
    * every-10th Lloyd sample, two spherical-k-means iterations → `cents`,
    * plus the data cell `assign` and 3-probe `probes` CTEs. Reused by the
    * plain IVF oracle and the IVF×PQ composition oracle. */
  private val ivfCentsCtes: String = {
    def lloyd(centsIn: String, assignCte: String, meansCte: String, centsOut: String): String =
      s"""$assignCte AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT s.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY list_cosine_similarity(s.dv, c.cv) DESC, c.cid ASC) AS rn
         |    FROM samp s, $centsIn c) WHERE rn = 1
         |), $meansCte AS (
         |  SELECT cid, list(m ORDER BY j) AS mv FROM (
         |    SELECT a.cid AS cid, t.j AS j, AVG(s.dv[t.j]) AS m
         |    FROM samp s JOIN $assignCte a ON a.vec_id = s.vec_id,
         |         unnest(range(1, 65)) AS t(j)
         |    GROUP BY a.cid, t.j)
         |  GROUP BY cid
         |), $centsOut AS (
         |  SELECT c.cid, COALESCE(m.mv, c.cv) AS cv
         |  FROM $centsIn c LEFT JOIN $meansCte m ON m.cid = c.cid
         |)""".stripMargin
    s"""WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
      |), cents0 AS (
      |  SELECT vec_id AS cid, dv AS cv FROM v WHERE vec_id % 50 = 0
      |), samp AS (
      |  SELECT vec_id, dv FROM v WHERE vec_id % 10 = 0
      |), ${lloyd("cents0", "lassign1", "lmeans1", "cents1")},
      |${lloyd("cents1", "lassign2", "lmeans2", "cents")},
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT d.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY list_cosine_similarity(d.dv, c.cv) DESC, c.cid ASC) AS rn
      |    FROM v d, cents c WHERE d.vec_id >= 5)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS q_id, cid FROM (
      |    SELECT q.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.dv, c.cv) DESC, c.cid ASC) AS rn
      |    FROM v q, cents c WHERE q.vec_id < 5)
      |  WHERE rn <= 3
      |)""".stripMargin
  }

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("e_cosine_topk", (s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.bruteForceTopK(emb.where(col("vec_id") >= 5), qs, k = 3)
        .select(col("q_id"), col("sim_rank"), col("vec_id"))
        .orderBy(col("q_id"), col("sim_rank"))
    },
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5
        |), datav AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings WHERE vec_id >= 5
        |)
        |SELECT q_id, sim_rank, vec_id FROM (
        |  SELECT q.q_id, d.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(d.dv, q.qv) DESC, d.vec_id ASC) AS sim_rank
        |  FROM q CROSS JOIN datav d)
        |WHERE sim_rank <= 3 ORDER BY q_id, sim_rank""".stripMargin),

    CatalogEntry("e_ivf_pq", (s, d) => {
      // the full production ANN shape (FAISS-style IVFADC): IVF cells
      // prune the pair count (equi-join on cell — no cross join), PQ
      // compresses the per-pair cost (8 integer lookups). Same refined
      // centroids as e_ann_ivf; same codebook as e_pq_adc; integer ADC
      // ranking so the oracle is exact end-to-end.
      val emb = embeddings(s, d)
      val seed = Similarity.sampleCentroids(emb, "vec_id", "embedding", stride = 50)
      val cents = Similarity.refineCentroids(emb, "vec_id", "embedding", seed,
        stride = 10, iters = 2)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfPqTopK(emb.where(col("vec_id") >= 5), qs, cents,
          k = 3, nProbe = 3)
        .orderBy(col("q_id"), col("pq_rank"))
    },
      // IVF×PQ oracle: the shared IVF cell/probe CTEs select the PAIRS; the
      // ranking itself is the integer PQ ADC distance (codes = per-subspace
      // integer argmin vs the formula codebook; adc = Σ_s dtable[s][code_s]).
      s"""$ivfCentsCtes, ei AS (
        |  SELECT vec_id, list_transform(dv, x -> CAST(round(x * 1000) AS BIGINT)) AS e
        |  FROM v
        |), sc AS (
        |  SELECT s.s, c.c
        |  FROM (SELECT unnest(range(0, 8)) AS s) s, (SELECT unnest(range(0, 8)) AS c) c
        |), dd AS (
        |  SELECT d.vec_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (d.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (d.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM ei d CROSS JOIN sc WHERE d.vec_id >= 5
        |), codes AS (
        |  SELECT vec_id, s, c AS code FROM (
        |    SELECT vec_id, s, c, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
        |    FROM dd
        |  ) WHERE rn = 1
        |), qd AS (
        |  SELECT q.vec_id AS q_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (q.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (q.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM ei q CROSS JOIN sc WHERE q.vec_id < 5
        |), adc AS (
        |  SELECT p.q_id, a.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |  JOIN codes cd ON cd.vec_id = a.vec_id
        |  JOIN qd ON qd.q_id = p.q_id AND qd.s = cd.s AND qd.c = cd.code
        |  GROUP BY p.q_id, a.vec_id
        |), ranked AS (
        |  SELECT q_id, vec_id, adc_dist, row_number() OVER (
        |    PARTITION BY q_id ORDER BY adc_dist ASC, vec_id ASC) AS pq_rank
        |  FROM adc
        |)
        |SELECT q_id, pq_rank, vec_id, adc_dist
        |FROM ranked WHERE pq_rank <= 3 ORDER BY q_id, pq_rank""".stripMargin),

    CatalogEntry("e_pq_adc", (s, d) => {
      // product-quantization ADC top-k (the embedding MEMORY-compression
      // scale path, complementing LSH/IVF's candidate pruning): fact side
      // encoded once to 8 codes by a narrow codegen'd expression, queries
      // broadcast their integer asymmetric-distance tables, approximate
      // distance = 8 table lookups. Deterministic formula codebook +
      // ⌊·1000⌉ quantization ⇒ the oracle replays every distance exactly.
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.pqAdcTopK(emb.where(col("vec_id") >= 5), qs, k = 3)
        .orderBy(col("q_id"), col("pq_rank"))
    },
      // PQ codebook formula + integer quantization replayed verbatim:
      // codes = per-subspace argmin of integer squared L2, ADC = Σ_s
      // dtable[s][code_s] — all BIGINT, order-free
      """WITH data AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ei
        |  FROM embeddings WHERE vec_id >= 5
        |), qs AS (
        |  SELECT vec_id AS q_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qi
        |  FROM embeddings WHERE vec_id < 5
        |), sc AS (
        |  SELECT s.s, c.c
        |  FROM (SELECT unnest(range(0, 8)) AS s) s, (SELECT unnest(range(0, 8)) AS c) c
        |), dd AS (
        |  SELECT d.vec_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (d.ei[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (d.ei[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM data d CROSS JOIN sc
        |), codes AS (
        |  SELECT vec_id, s, c AS code FROM (
        |    SELECT vec_id, s, c, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
        |    FROM dd
        |  ) WHERE rn = 1
        |), qd AS (
        |  SELECT q.q_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (q.qi[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (q.qi[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM qs q CROSS JOIN sc
        |), adc AS (
        |  SELECT qd.q_id, cd.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
        |  FROM codes cd JOIN qd ON qd.s = cd.s AND qd.c = cd.code
        |  GROUP BY qd.q_id, cd.vec_id
        |), ranked AS (
        |  SELECT q_id, vec_id, adc_dist, row_number() OVER (
        |    PARTITION BY q_id ORDER BY adc_dist ASC, vec_id ASC) AS pq_rank
        |  FROM adc
        |)
        |SELECT q_id, pq_rank, vec_id, adc_dist
        |FROM ranked WHERE pq_rank <= 3 ORDER BY q_id, pq_rank""".stripMargin),

    CatalogEntry("e_ann_lsh", (s, d) => {
      // quantized-integer hyperplane signatures against the literal plane
      // matrix → the DuckDB oracle reproduces buckets and ranks exactly
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.annTopK(emb.where(col("vec_id") >= 5), qs, k = 3,
        nPlanes = 16, bands = 8,
        signature = Similarity.lshSignatureQuantized(_, AnnPlanes))
        .select(col("q_id"), col("sim_rank"), col("vec_id"))
        .orderBy(col("q_id"), col("sim_rank"))
    },
      // quantize → integer dot vs the literal plane matrix →
      // 16-bit signature → 8×2-bit band buckets → distinct candidates →
      // cosine rank. Mirrors Similarity.annTopK(lshSignatureQuantized).
      {
        val sigTerms = annSigTermsSql
        s"""WITH base AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
           |  FROM embeddings
           |), sigs AS (
           |  SELECT vec_id, v, CAST($sigTerms AS BIGINT) AS sig FROM base
           |), banded AS (
           |  SELECT vec_id, v, sig, b, (sig >> CAST(b * 2 AS INT)) & 3 AS bv
           |  FROM sigs, unnest(range(0, 8)) AS t(b)
           |), cand AS (
           |  SELECT DISTINCT q.vec_id AS q_id, d.vec_id AS vec_id
           |  FROM banded d JOIN banded q ON d.b = q.b AND d.bv = q.bv
           |  WHERE d.vec_id >= 5 AND q.vec_id < 5
           |)
           |SELECT q_id, sim_rank, vec_id FROM (
           |  SELECT c.q_id, c.vec_id,
           |    row_number() OVER (PARTITION BY c.q_id
           |      ORDER BY list_cosine_similarity(d.v, q.v) DESC, c.vec_id ASC) AS sim_rank
           |  FROM cand c
           |  JOIN sigs d ON d.vec_id = c.vec_id
           |  JOIN sigs q ON q.vec_id = c.q_id)
           |WHERE sim_rank <= 3 ORDER BY q_id, sim_rank""".stripMargin
      }),

    CatalogEntry("e_ann_ivf", (s, d) => {
      // IVF ANN: Voronoi cells around a deterministic centroid sample
      // (every 50th id) REFINED by two spherical-k-means Lloyd iterations
      // over a denser sample (every 10th id) — the refinement path is
      // oracle-gated, not just spec-gated. Data assigned by a narrow
      // argmax expression, queries probe their 3 nearest cells,
      // candidates equi-join on cell.
      val emb = embeddings(s, d)
      val seed = Similarity.sampleCentroids(emb, "vec_id", "embedding", stride = 50)
      val cents = Similarity.refineCentroids(emb, "vec_id", "embedding", seed,
        stride = 10, iters = 2)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfTopK(emb.where(col("vec_id") >= 5), qs, cents, k = 3, nProbe = 3)
        .select(col("q_id"), col("sim_rank"), col("vec_id"))
        .orderBy(col("q_id"), col("sim_rank"))
    },
      // same deterministic centroid rule (every 50th id) plus the SAME two
      // spherical-k-means Lloyd iterations over the every-10th-id sample
      // (assignment = cosine argmax, ties → lower centroid id; update =
      // per-(cell, dim) mean; empty cells keep their centroid), then
      // nearest-centroid assignment, 3-cell probes, candidates joined on the
      // cell, exact cosine rank. Mirrors Similarity.refineCentroids +
      // ivfTopK. Output columns are integers; double-vs-double
      // summation-order ulps can only matter at exact argmax ties, which the
      // synthetic embeddings don't produce.
      s"""$ivfCentsCtes
        |SELECT q_id, sim_rank, vec_id FROM (
        |  SELECT p.q_id, a.vec_id,
        |    row_number() OVER (PARTITION BY p.q_id
        |      ORDER BY list_cosine_similarity(d.dv, q.dv) DESC, a.vec_id ASC) AS sim_rank
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |  JOIN v d ON d.vec_id = a.vec_id JOIN v q ON q.vec_id = p.q_id)
        |WHERE sim_rank <= 3 ORDER BY q_id, sim_rank""".stripMargin),

    CatalogEntry("d_embed_neardup", (s, d) => {
      // embedding-cosine near-dup pairs: banded-LSH candidates + EXACT
      // integer threshold verify (cos >= 0.4 ⟺ dot>0 ∧ 25·dot² ≥ 4·‖a‖²‖b‖²
      // on the 10^-6-quantized vectors — bit-reproducible in DuckDB HUGEINT)
      sortedResult(Dedup.embeddingNearDupPairs(embeddings(s, d), "embedding", "vec_id",
        t2n = 4, t2d = 25, planes = AnnPlanes, bands = 8), col("id_a"), col("id_b"))
    },
      // the identical banded-LSH candidate generation,
      // then the EXACT integer cosine-threshold test in HUGEINT (mirrors the
      // engine's DECIMAL(38,0) arithmetic bit-for-bit): cos ≥ 0.4 ⟺
      // dot > 0 ∧ 25·dot² ≥ 4·‖a‖²·‖b‖² on round(x·10^6) vectors.
      s"""WITH base AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings
         |), sigs AS (
         |  SELECT vec_id, qv, CAST($annSigTermsSql AS BIGINT) AS sig,
         |    list_sum(list_transform(range(1, 65), j -> CAST(qv[j] AS HUGEINT) * qv[j])) AS n2
         |  FROM base
         |), banded AS (
         |  SELECT vec_id, b, (sig >> CAST(b * 2 AS INT)) & 3 AS bv
         |  FROM sigs, unnest(range(0, 8)) AS t(b)
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.bv = b.bv AND a.vec_id < b.vec_id
         |), scored AS (
         |  SELECT c.id_a, c.id_b,
         |    list_sum(list_transform(range(1, 65), j -> CAST(x.qv[j] AS HUGEINT) * y.qv[j])) AS dot,
         |    x.n2 AS na, y.n2 AS nb
         |  FROM cand c JOIN sigs x ON x.vec_id = c.id_a JOIN sigs y ON y.vec_id = c.id_b
         |)
         |SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot_q FROM scored
         |WHERE dot > 0 AND 25 * dot * dot >= 4 * na * nb
         |ORDER BY id_a, id_b""".stripMargin))
}
