package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextExpressions

/** Corpus-level DataFrame operators for training-data curation, beyond
  * per-document columns (`TextAnalysis`) and near-dup pairing (`Dedup`):
  * benchmark decontamination, duplicated-span measurement, sequence
  * packing, and distinctive-term extraction.
  * Inputs read by several actions sit behind a lazy `localCheckpoint`:
  * building the operator runs their shuffle stages (AQE), and the
  * ContextCleaner frees the blocks once the result is unreachable.
  */
object CorpusOps {

  /** Benchmark decontamination: flag every train document sharing at least
    * one n-token shingle with the eval/benchmark set — the standard
    * train-test-overlap sweep a pretraining pipeline runs before training
    * (e.g. GPT-3 appendix C / PaLM-style 8-gram overlap; n is a knob here
    * because the synthetic fixture's documents are short).
    *
    * Returns one row per CONTAMINATED train doc: (idCol, n_shared) where
    * n_shared counts distinct shared shingles.
    *
    * Scale shape: the eval side is benchmark-sized (thousands of docs) —
    * its distinct shingle-hash set is dimension data, so the join is a
    * BROADCAST equi-join on a 60-bit shingle hash and the 100 TB train
    * side is never shuffled; the only exchange is the final per-doc
    * aggregation, bounded by contaminated (doc, shingle) pairs. Joining
    * on the 60-bit hash instead of the shingle string keeps the broadcast
    * small; a hash collision can only over-flag (conservative for
    * decontamination, where a false keep is the costly error). */
  def flagOverlap(train: DataFrame, eval: DataFrame, textCol: String,
                  idCol: String, n: Int): DataFrame = {
    val (trainHashes, evalHashes) = overlapHashes(train, eval, textCol, idCol, n)
    trainHashes
      .join(broadcast(evalHashes), "_h")
      .groupBy(col(idCol))
      .agg(countDistinct(col("_h")).as("n_shared"))
  }

  /** The overlap sweep's two sides: every train doc's n-token shingles as
    * (idCol, `_h` = 60-bit hash) rows, and the eval side's distinct hashes.
    * The shingle array is hashed by one kernel before the explode, so `_h`
    * is a plain column that filters and joins above read, not an md5 each
    * of them re-evaluates. */
  private def overlapHashes(train: DataFrame, eval: DataFrame, textCol: String,
                            idCol: String, n: Int): (DataFrame, DataFrame) = {
    def shingleHashes(df: DataFrame) = df.select(col(idCol),
      explode(TextExpressions.hashes60(Dedup.shingles(col(textCol), n))).as("_h"))
    (shingleHashes(train), shingleHashes(eval).select(col("_h")).distinct())
  }

  /** [[flagOverlap]]'s scale path for when the eval/benchmark shingle set
    * itself outgrows a broadcast HASH JOIN (a few GB of 8-byte hashes):
    * the eval hashes are folded into a Bloom filter by Spark's own
    * distributed `BloomFilterAggregate` (bits sized from `expectedItems` /
    * `fpp`, e.g. 10^9 items at 1% ≈ 1.2 GB — broadcastable long after the
    * exact hash set is not), the 100 TB train side is PREFILTERED by a
    * narrow codegen'd `might_contain` projection — still never shuffled —
    * and only the surviving sliver takes the exact equi-join that removes
    * bloom false positives. No false negatives exist, so the result is
    * IDENTICAL to [[flagOverlap]] (spec-proven), and over-flagging from
    * 60-bit hash collisions stays the only (conservative) approximation.
    * Same contract: one row per contaminated train doc, (idCol, n_shared). */
  def flagOverlapBloom(train: DataFrame, eval: DataFrame, textCol: String,
                       idCol: String, n: Int, expectedItems: Long = 1000000L,
                       fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val (trainHashes, evalHashes) = overlapHashes(train, eval, textCol, idCol, n)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    // The filter rides a SCALAR SUBQUERY, the same shape Spark's own
    // injected runtime filters use (SPARK-32268) — NOT a driver-side
    // head() folded into a plan Literal. A production-sized bloom (the
    // ~1.2 GB the scaladoc cites) embedded as a Literal would ride the
    // task closure of every stage referencing it; as a subquery it is
    // computed by one distributed aggregation job and shipped once as a
    // broadcast-style subquery result.
    val bloomAgg = evalHashes.select(toColumn(
        new BloomFilterAggregate(toExpression(col("_h")),
          Literal(expectedItems), Literal(numBits)).toAggregateExpression())
        .as("_bf"))
    val bloomSub = ScalarSubquery(
      bloomAgg.queryExecution.analyzed)
    val prefiltered = trainHashes.where(toColumn(
      BloomFilterMightContain(bloomSub, toExpression(col("_h")))))
    prefiltered.join(evalHashes, "_h")
      .groupBy(col(idCol))
      .agg(countDistinct(col("_h")).as("n_shared"))
  }

  /** Duplicated-span fraction — the corpus-level exact-substring-dedup
    * signal (the distributed proxy for Lee et al. 2021's suffix-array
    * "deduplicating training data" sweep): every rolling n-token window of
    * every document is hashed, and a window counts as DUPLICATED when its
    * hash occurs ≥ 2 times anywhere in the corpus (another document or a
    * repeat inside the same one). Returns one row per input document:
    * (idCol, n_windows, dup_windows, dup_frac_e4) with the fraction in
    * exact permyriad integers (0 when a doc is shorter than n tokens).
    *
    * Unlike [[Dedup.shingles]] this keeps EVERY window position (no
    * array_distinct): the signal is "what share of this doc's text sits in
    * spans that exist elsewhere", so within-doc repeats must count.
    *
    * Scale shape: occurrences reduce to (doc, hash, m) by one map-side-
    * combined aggregation BEFORE anything corpus-wide happens, so the
    * shuffle carries one row per distinct (doc, window) — never one per
    * token position. Corpus counts derive from that same aggregate (second
    * keyed shuffle on the hash), and the rejoin is keyed on the hash with
    * both sides already reduced; a boilerplate span shared by 10^9 docs
    * costs its (doc, hash) rows, never a collected list. The 60-bit hash
    * stands in for the window string end-to-end (the exchange carries 8
    * bytes, not spans); a collision can only over-count duplication —
    * conservative for a filter whose costly error is keeping a dup. */
  def dupSpans(df: DataFrame, textCol: String, idCol: String,
               n: Int): DataFrame = {
    // token array let-bound: the inlined tokenization tree would re-run
    // once per window inside the slice lambda (O(tokens²) per doc — the
    // Dedup.shingles lesson)
    val windows = graft.functions.ExprUtils.bind(Dedup.tokens(col(textCol))) { toks =>
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    val occ = df.select(col(idCol), explode(windows).as("_s"))
      .select(col(idCol), Dedup.hash60(col("_s")).as("_h"))
    val perDocHash = occ.groupBy(col(idCol), col("_h"))
      .agg(count(lit(1)).as("_m"))
    val corpusCounts = perDocHash.groupBy(col("_h"))
      .agg(sum(col("_m")).as("_c"))
    val perDoc = perDocHash.join(corpusCounts, "_h")
      .groupBy(col(idCol))
      .agg(sum(col("_m")).as("n_windows"),
        sum(when(col("_c") >= 2, col("_m")).otherwise(0L)).as("dup_windows"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        TextAnalysis.permyriad(coalesce(col("dup_windows"), lit(0L)),
          coalesce(col("n_windows"), lit(0L))).as("dup_frac_e4"))
  }

  /** Concat-and-chunk sequence packing — the standard pretraining layout
    * (GPT-style): documents are concatenated in id order and cut into
    * fixed `chunkTokens` context windows; each document maps to the global
    * token interval [tok_start, tok_start + n_tokens) and hence to the
    * chunk range [chunk_first, chunk_last]. Returns
    * (idCol, n_tokens, tok_start, chunk_first, chunk_last). A null text has
    * null n_tokens and offsets and takes no room; a null id is left out of
    * the bucketing. The id range (max − min) must fit a long.
    *
    * The global offset is a prefix sum over a total order — the one
    * corpus-scale computation a naive `Window.orderBy(id)` (single
    * partition = one executor sorts 100 TB) gets catastrophically wrong.
    * This is the classic two-phase distributed scan instead:
    * 1. deterministic range bucketing of the id space (uniform min/max
    *    split — correct for ANY monotone bucketing, balance-only concern;
    *    pass more `buckets` at scale so a bucket's rows fit an executor);
    * 2. one per-bucket token total, folded into a `buckets`-long array on
    *    the executors and prefix-summed on the driver;
    * 3. a per-bucket window cumsum shifted by the bucket's prefix, the
    *    offsets riding along as an array literal.
    * The bucket is integral division on both sides — the `_b` column and
    * the driver's fold — so the two agree for every long id. Nothing
    * global ever sorts. */
  def packChunks(df: DataFrame, textCol: String, idCol: String,
                 chunkTokens: Int, buckets: Int = 32): DataFrame = {
    require(chunkTokens > 0 && buckets > 0)
    // barrier: the id bounds, the per-bucket totals and the final windowed
    // plan all read `toks` — without it each re-executed the ENTIRE
    // upstream plan (for the composed d_curate_full recipe that upstream
    // is the whole dup-span gate + decontamination + sampling pipeline).
    // The bounds and the totals are one RDD job each over the checkpoint:
    // the first materializes it, and neither shuffles.
    val toks = df.select(col(idCol).cast("long").as(idCol),
      size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"))
      .localCheckpoint(eager = false)
    val rows = toks.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    // one recorded SQL execution around both jobs, so listeners and plan
    // audits see them
    val (minId, width, totals) =
      SQLExecution.withNewExecutionId(toks.queryExecution, Some("packChunks")) {
        val (lo, hi) = rows.aggregate((Long.MaxValue, Long.MinValue))(
          (m, r) => if (r.isNullAt(0)) m
            else (math.min(m._1, r.getLong(0)), math.max(m._2, r.getLong(0))),
          (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
        if (lo > hi) (lo, 1L, Array.empty[Long]) // no id: nothing to pack
        else {
          val w = Math.subtractExact(hi, lo) / buckets + 1
          (lo, w, rows.aggregate(new Array[Long](buckets))(
            (t, r) => {
              if (!r.isNullAt(0) && !r.isNullAt(1))
                t(((r.getLong(0) - lo) / w).toInt) += r.getLong(1)
              t
            },
            (a, b) => { for (i <- a.indices) a(i) += b(i); a }))
        }
      }
    if (totals.isEmpty)
      return toks.select(col(idCol), col("n_tokens"),
        lit(0L).as("tok_start"), lit(0L).as("chunk_first"),
        lit(0L).as("chunk_last")).limit(0)
    val bucketed = toks.withColumn("_b", div(col(idCol) - lit(minId), lit(width)))
    val prefix = totals.scanLeft(0L)(_ + _).init
    val w = Window.partitionBy(col("_b")).orderBy(col(idCol))
    val c = lit(chunkTokens.toLong)
    bucketed
      .withColumn("tok_start",
        element_at(typedLit(prefix), (col("_b") + 1).cast("int")) +
          sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("chunk_first", div(col("tok_start"), c))
      .withColumn("chunk_last",
        when(col("n_tokens") > 0, div(col("tok_start") + col("n_tokens") - 1, c))
          .otherwise(col("chunk_first")))
      .select(col(idCol), col("n_tokens"), col("tok_start"),
        col("chunk_first"), col("chunk_last"))
  }

  /** Integral division: floor for the non-negative operands it gets here. */
  private def div(x: Column, d: Column): Column = call_function("div", x, d)

  /** The loader-facing completion of [[packChunks]]: one row per
    * (chunk, document) overlap — a document spanning a chunk boundary
    * splits into per-chunk segments carrying the offsets a training-data
    * loader needs to assemble fixed-size sequences. Returns
    * (chunk_id, idCol, chunk_off, doc_off, seg_len); per chunk the
    * seg_lens sum to ≤ chunkTokens, per doc they sum to n_tokens.
    * Fan-out is bounded (≤ n_tokens/chunkTokens + 1 rows per doc), and
    * everything after the prefix sum is a narrow explode — no new
    * exchange. */
  def packSegments(df: DataFrame, textCol: String, idCol: String,
                   chunkTokens: Int, buckets: Int = 32): DataFrame = {
    val c = lit(chunkTokens.toLong)
    packChunks(df, textCol, idCol, chunkTokens, buckets)
      .where(col("n_tokens") > 0)
      .select(col(idCol), col("n_tokens"), col("tok_start"),
        explode(sequence(col("chunk_first"), col("chunk_last"))).as("chunk_id"))
      .withColumn("_seg_start", greatest(col("tok_start"), col("chunk_id") * c))
      .withColumn("_seg_end",
        least(col("tok_start") + col("n_tokens"), (col("chunk_id") + 1) * c))
      .select(col("chunk_id"), col(idCol),
        (col("_seg_start") - col("chunk_id") * c).as("chunk_off"),
        (col("_seg_start") - col("tok_start")).as("doc_off"),
        (col("_seg_end") - col("_seg_start")).as("seg_len"))
  }

  /** N-gram language-model scoring — the perplexity-filter quality signal
    * (a KenLM-style fluency proxy) in EXACT integer arithmetic: the
    * corpus's own bigram MLE assigns each bigram occurrence
    * p_e6 = (c(w1 w2) · 10⁶) // c(w1·), where c(w1·) counts w1 as a
    * PREFIX (the proper conditional denominator), and a document scores
    * the floor-average of its bigram probabilities. Floor division
    * everywhere, so the DuckDB oracle replays it bit-for-bit — no float
    * log-likelihood to drift. Returns (idCol, n_bigrams, avg_p_e6);
    * docs shorter than 2 tokens score 0 over 0 bigrams.
    *
    * Scale shape: the model (bigram table) is corpus-sized like a
    * vocabulary — both model joins stay UNhinted (the `topTerms` lesson:
    * AQE broadcasts exactly when it is actually small), the per-doc
    * aggregation is map-side combined, and nothing collects. */
  def lmScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // token array let-bound (the Dedup.shingles O(tokens²) lesson)
    val bigrams = graft.functions.ExprUtils.bind(Dedup.tokens(col(textCol))) { toks =>
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", slice(toks, i, lit(2)))))
        .otherwise(array().cast("array<string>"))
    }
    // tokens contain no spaces (split on non-alphanumerics), so the
    // bigram string splits back unambiguously
    val occ = df.select(col(idCol), explode(bigrams).as("_bg"))
      .withColumn("_w1", split(col("_bg"), " ").getItem(0))
    val c2 = occ.groupBy(col("_w1"), col("_bg")).agg(count(lit(1)).as("_c2"))
    val c1 = c2.groupBy(col("_w1")).agg(sum(col("_c2")).as("_c1"))
    val x = col("_c2") * lit(1000000L)
    val p = c2.join(c1, "_w1")
      .select(col("_bg"), ((x - pmod(x, col("_c1"))) / col("_c1"))
        .cast("long").as("_p_e6"))
    val perDoc = occ.join(p, "_bg")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_p_e6")).as("_sum_p"))
      .select(col(idCol), col("n_bigrams"),
        ((col("_sum_p") - pmod(col("_sum_p"), col("n_bigrams")))
          / col("n_bigrams")).cast("long").as("avg_p_e6"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("avg_p_e6"), lit(0L)).as("avg_p_e6"))
  }

  /** Distinctive-term extraction: the top-k terms per document ranked by
    * (term frequency desc, document frequency asc, term asc) — a tf-idf
    * ranking in EXACT integer arithmetic. For a fixed tf, idf is strictly
    * decreasing in df, so the (tf desc, df asc) order agrees with
    * tf·idf within each tf class; skipping the float log keeps the result
    * bit-reproducible across engines (the DuckDB oracle replays the exact
    * same integers).
    *
    * Returns (idCol, term, tf, df, rank). Scale shape: tf is one
    * map-side-combined aggregation on (doc, term); df is derived from tf.
    * The df side gets NO broadcast hint on purpose: on a real web corpus
    * the distinct-term count is unbounded (typos, URLs, hex blobs — 10^9+
    * rows at 100 TB), and a hard `broadcast()` overrides Spark's size
    * check and OOMs instead of degrading. Left unhinted, AQE reads the
    * finished tf/df shuffle stats at runtime and converts the join to
    * broadcast exactly when df is actually small — the safe version of
    * the same optimization (proven in CorpusOpsSpec's non-broadcast
    * path). */
  def topTerms(df: DataFrame, textCol: String, idCol: String,
               k: Int): DataFrame = {
    val tf = df
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(docFreq, "term")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rank"))
  }
}
