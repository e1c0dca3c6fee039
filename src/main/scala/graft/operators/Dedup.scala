package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextExpressions

/** Large-scale corpus deduplication operators (training-data pipeline ops;
  * not present in the reference — required engine components per the build
  * brief). All are pure DataFrame plans: shuffles only on the natural keys,
  * map-side partial aggregation everywhere, no driver-side loops.
  * Inputs read by several consumers sit behind a lazy `localCheckpoint`:
  * building a pair operator runs their shuffle stages (AQE), and the
  * ContextCleaner frees the blocks once the result is unreachable.
  */
object Dedup {

  /** Tokenize to non-empty lowercase word tokens. `split` never yields a
    * null element, so removing "" is the `length > 0` filter without its
    * per-element lambda. */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "[^\\p{L}\\p{N}]+"), "")

  /** n-token shingles of a text column: the distinct overlapping windows,
    * joined by " ", in first-occurrence order; empty for null text or
    * fewer than `n` tokens. One codegen'd kernel
    * ([[graft.functions.TextOps.shingles]]) over the token array, which is
    * therefore evaluated once per row. */
  def shingles(text: Column, n: Int): Column =
    TextExpressions.shingles(tokens(text), n)

  /** Portable 60-bit hash: the first 15 hex chars of md5 as a long. Chosen
    * so the DuckDB oracle can reproduce the exact value (md5 + hex fold are
    * available on both engines); 60 bits keeps the ANSI long cast safe.
    * For pure-engine hot paths xxhash64 is faster — the dedup operators
    * take the hash as a parameter. */
  def hash60(c: Column): Column =
    conv(substring(md5(to_binary(c, lit("utf-8"))), 1, 15), 16, 10).cast("long")

  /** Exact dedup: one survivor per identical value of `keyCol` (the min of
    * `idCol`). Single hash-aggregate: partial min map-side, so the shuffle
    * carries one row per distinct key per partition — scales to 10^12 rows
    * as long as distinct keys fit the cluster, which is the same bound any
    * exact dedup has. Returns (keyCol, survivor_id, dup_count). */
  def exactDedup(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup by content hash — at scale, prefer hashing the (possibly
    * megabyte-sized) text down to 128 bits BEFORE the shuffle so the
    * exchange carries hashes, not documents. */
  def exactDedupByHash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(to_binary(col(textCol), lit("utf-8"))).as("text_md5"), col(idCol))
      .groupBy(col("text_md5"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup — the daily-crawl delta pattern: fold a NEW
    * batch into yesterday's dedup state without rescanning the historical
    * corpus. Works because [[exactDedup]]'s per-key summary
    * (min survivor, count) is a commutative monoid: merging the old state
    * with the delta's summary under the same (min, sum) aggregation is
    * EXACTLY the full recompute — `d_dedup_incremental`'s oracle is
    * literally the full-corpus dedup SQL, the equality being the
    * incremental-correctness contract. Scale shape: one map-side-combined
    * aggregation over state ∪ delta-summary; the 100 TB history is never
    * reread — only its (distinct-key-sized) state table is. */
  def exactDedupIncrement(state: DataFrame, newDocs: DataFrame,
                          textCol: String, idCol: String): DataFrame =
    state.unionByName(exactDedupByHash(newDocs, textCol, idCol))
      .groupBy(col("text_md5"))
      .agg(min(col("survivor_id")).as("survivor_id"),
        sum(col("dup_count")).as("dup_count"))

  /** Paragraph-level exact dedup (RefinedWeb / MassiveText-style: remove
    * REPEAT paragraphs corpus-wide, keep each document's residue): explode
    * documents into (id, pos, unit) rows — `unitsOf` supplies the units
    * (real paragraphs, lines, or synthetic token chunks for
    * newline-free corpora) — keep only the globally FIRST occurrence of
    * each distinct unit (min (id, pos) order), and reassemble each
    * document from its surviving units in original order.
    *
    * Returns (idCol, clean_text, n_kept, n_total); documents whose every
    * unit is a repeat survive with empty clean_text (the caller filters —
    * dropping is a policy, not the operator's call).
    *
    * Scale shape: ONE shuffle on the unit's md5 (128-bit hash carried
    * instead of the paragraph text for the exchange-width reason
    * [[exactDedupByHash]] documents; min-of-struct is a map-side-combining
    * aggregate, not a window — no per-key row buffering), broadcast-free
    * self-join back on the hash only to mark survivors, then one
    * aggregation on id to reassemble. A hot paragraph ("click here to
    * subscribe" × 10^9) costs one combined row per input partition. */
  def paraDedup(df: DataFrame, textCol: String, idCol: String,
                unitsOf: Column => Column, sep: String = " "): DataFrame = {
    val units = df
      .select(col(idCol), posexplode(unitsOf(col(textCol))).as(Seq("pos", "unit")))
      .withColumn("_h", md5(to_binary(col("unit"), lit("utf-8"))))
    val firstSeen = units
      .groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("pos"))).as("_first"))
      .select(col("_h"), col("_first")(idCol).as("_fid"), col("_first")("pos").as("_fpos"))
    units.join(firstSeen, "_h")
      .withColumn("_keep", col(idCol) === col("_fid") && col("pos") === col("_fpos"))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(
          collect_list(when(col("_keep"), struct(col("pos"), col("unit"))))),
          s => s("unit")), sep).as("clean_text"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        count(lit(1)).as("n_total"))
  }

  /** Default (engine-internal) MinHash signature over a shingle-array
    * column: lane i is the minimum over the shingles of
    * `xxhash64(i, shingle)`, computed in one pass by one codegen'd kernel
    * ([[graft.functions.TextOps.minhashXx]]). Empty shingle arrays yield
    * Long.MaxValue lanes. */
  def minhashSignatureFromShingles(sh: Column, numHashes: Int): Column =
    TextExpressions.minhash_xx(sh, numHashes)

  /** Oracle-portable MinHash signature via Kirsch–Mitzenmacher double
    * hashing: ONE md5 per shingle yields two independent 60-bit halves
    * (h1 = hex chars 1-15, h2 = chars 17-31 >> 5), lane_i =
    * (h1 + i·h2) & (2^60 − 1) — the standard k-hashes-from-2 construction,
    * overflow-free in 63 bits and reproducible in DuckDB. One kernel pass
    * per row ([[graft.functions.TextOps.minhashPortable]]). */
  def minhashSignaturePortable(sh: Column, numHashes: Int): Column =
    TextExpressions.minhash_portable(sh, numHashes)

  /** LSH band keys of a MinHash signature: one struct(b, h) per band `b`,
    * `h` the band's `rowsPerBand` lane values joined with ",". The raw
    * joined-lane string keeps candidate equality classes exact (and
    * oracle-reproducible). Shared by the batch and streaming LSH plans. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    TextExpressions.band_keys(sig, bands, rowsPerBand)

  /** MinHash + LSH banding near-dup candidate pairs, verified by estimated
    * Jaccard (fraction of matching signature positions).
    *
    * Plan shape (the scale path for fuzzy dedup at 10^12 docs):
    *   1. narrow: signature per doc (one single-pass kernel, no shuffle)
    *   2. explode to `bands` rows/doc, band key = the band's lane values
    *      (shuffle key — uniform by construction, no skew)
    *   3. self-join within buckets (docs sharing ≥1 identical band)
    *   4. distinct pairs, then verify on signature agreement ≥ threshold
    *      (a lane-compare kernel, [[graft.functions.TextOps.agreement]])
    *
    * The band key is the raw joined-lane string so candidate equality
    * classes are exact (and oracle-reproducible); at 100 TB wrap it in a
    * 64-bit hash to shrink the exchange — candidates only gain (hash
    * collisions), never lose, so results are identical after the verify.
    *
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b. */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      shingleLen: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5,
                      signature: (Column, Int) => Column = minhashSignatureFromShingles): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = signatures(df, textCol, idCol, shingleLen, numHashes, signature, withSets = false)
    val cand = bandPairs(sig, explode(bandKeys(col("_sig"), bands, numHashes / bands)))
    withBothEnds(cand, sig, "_sig")
      .select(col("id_a"), col("id_b"),
        (TextExpressions.sig_agreement(col("_sig_a"), col("_sig_b"))
          .cast("double") / lit(numHashes)).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** MinHash signatures (`_id`, `_sig`, plus the shingle set `_sh` when
    * `withSets`) behind one lazy checkpoint, which the band side and the
    * per-pair re-joins all read. The shingles are made in a projection of
    * their own: the signature and the emptiness test both read them, so
    * CollapseProject leaves them there and each doc is shingled once.
    * Docs too short for one shingle are EXCLUDED after the checkpoint:
    * their all-sentinel signatures would bucket every short doc together —
    * M²/2 spurious pairs of unrelated texts plus a one-bucket hot key. */
  private def signatures(df: DataFrame, textCol: String, idCol: String,
                         shingleLen: Int, numHashes: Int,
                         signature: (Column, Int) => Column, withSets: Boolean): DataFrame = {
    val sh = col("_sh")
    df.select(col(idCol).as("_id"), shingles(col(textCol), shingleLen).as("_sh"))
      .select(Seq(col("_id"), signature(sh, numHashes).as("_sig"), (size(sh) > 0).as("_ne")) ++
        (if (withSets) Seq(sh) else Nil): _*)
      .localCheckpoint(eager = false)
      .where(col("_ne")).drop("_ne")
  }

  /** The banding path of every LSH pair operator but [[simhashPairs]]:
    * `band` generates each `_id`'s band keys, and the self-join on them
    * yields the distinct candidate pairs (id_a, id_b), id_a < id_b. IDS ONLY
    * cross this, the plan's widest exchange (`bands` rows per doc): a
    * signature carried through it would cost `bands` copies per doc (~100×
    * the exchange at 64 lanes), while callers re-join their payload per
    * candidate pair ([[withBothEnds]]), bounded by the candidate count. */
  private def bandPairs(df: DataFrame, band: Column): DataFrame = {
    val banded = df.select(col("_id"), band.as("_band"))
    banded.select(col("_id").as("id_a"), col("_band"))
      .join(banded.select(col("_id").as("id_b"), col("_band")), Seq("_band"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Joins `side`'s columns `cols` (keyed by `_id`) onto both ends of each
    * (id_a, id_b) pair: column `c` arrives as `c_a` and `c_b`. */
  private def withBothEnds(pairs: DataFrame, side: DataFrame, cols: String*): DataFrame = {
    def end(e: String) =
      side.select(col("_id").as(s"id_$e") +: cols.map(c => col(c).as(s"${c}_$e")): _*)
    pairs.join(end("a"), Seq("id_a")).join(end("b"), Seq("id_b"))
  }

  /** Band keys of a bit-packed signature: one struct(b, v) per band `b`,
    * `v` the signature's bits [b·bandBits, (b+1)·bandBits), exploded to one
    * row per band. `sig` should be a column reference: the expression is
    * repeated once per band. */
  private[operators] def bitBands(sig: Column, bands: Int, bandBits: Int): Column = {
    val mask = lit((1L << bandBits) - 1)
    explode(array((0 until bands).map { b =>
      struct(lit(b).as("b"), shiftright(sig, b * bandBits).bitwiseAND(mask).as("v"))
    }: _*))
  }

  /** SimHash width: 60 bits (not 64) so every bit comes from the portable
    * 60-bit md5 hash and the DuckDB oracle reproduces fingerprints exactly. */
  final val SimHashBits = 60

  /** SimHash: 60-bit locality-sensitive fingerprint — bit i of the result is
    * the sign of Σ_tokens (2·bit_i(hash60(token)) − 1). One narrow pass:
    * one kernel hashes each token and casts all 60 votes
    * ([[graft.functions.TextOps.simhash60]]). */
  def simhash(text: Column): Column =
    TextExpressions.simhash60(tokens(text))

  /** Hamming distance between two fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via band-bucketing, then exact Hamming verify.
    *
    * RECALL GUARANTEE (pigeonhole): a pair within Hamming distance d of a
    * fingerprint split into `bands` equal segments must agree on at least
    * `bands - d` segments — so candidates are complete iff
    * `maxHamming < bands` (enforced). The classic Google configuration is
    * 4 bands of 15/16 bits for d ≤ 3; a larger budget needs more, narrower
    * bands (e.g. d=10 → 12 bands of 5 bits) at the cost of bigger buckets.
    *
    * The one banded operator with its own self-join instead of
    * [[bandPairs]]: its payload is the 8-byte fingerprint itself, so it
    * rides the band exchange next to the id, the Hamming verify runs on the
    * joined rows and the dedup follows it. Going ids-only would add the
    * two per-pair fingerprint re-joins to save 8 bytes a row. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole recall needs bands > maxHamming (got bands=$bands, maxHamming=$maxHamming)")
    require(SimHashBits % bands == 0, s"bands must divide $SimHashBits")
    // zero-token docs are excluded after the checkpoint: they'd all get
    // fingerprint 0 and pair with each other at Hamming 0 (same artifact
    // as the MinHash sentinel). The tokens sit in their own projection, read
    // by the fingerprint and the emptiness test, so each doc is tokenized
    // once; the `fp` checkpoint feeds both sides of the band self-join.
    val tk = col("_tk")
    val fp = df.select(col(idCol).as("_id"), tokens(col(textCol)).as("_tk"))
      .select(col("_id"), TextExpressions.simhash60(tk).as("_fp"), (size(tk) > 0).as("_ne"))
      .localCheckpoint(eager = false)
      .where(col("_ne")).drop("_ne")
    val banded = fp.withColumn("_band", bitBands(col("_fp"), bands, SimHashBits / bands))
    val l = banded.select(col("_id").as("id_a"), col("_fp").as("_fa"), col("_band"))
    val r = banded.select(col("_id").as("id_b"), col("_fp").as("_fb"), col("_band"))
    l.join(r, Seq("_band"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("_fa"), col("_fb")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Plan dispatch: the prefix filter prunes candidates by a factor of
    * ~(1−t), so it wins for the dedup-typical thresholds (t ≥ ~0.4). At
    * low thresholds the prefix is nearly the whole set, and the classic
    * inverted-index plan's candidates (every pair sharing ANY shingle)
    * blow up quadratically on common shingles — so below 0.4 the scale
    * path is banded-MinHash candidate generation with the SAME exact
    * per-pair Jaccard verify ([[ngramJaccardPairsMinhashVerify]]). The
    * inverted plan remains available for corpora that need guaranteed
    * recall 1 at low t and can afford it (equality of all three plans on
    * common data is proven in DedupSpec). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleLen: Int = 3, threshold: Double = 0.5,
                        maxShingleFreq: Long = 1000): DataFrame =
    if (threshold >= 0.4)
      ngramJaccardPairsPrefix(df, textCol, idCol, shingleLen, threshold, maxShingleFreq)
    else
      ngramJaccardPairsMinhashVerify(df, textCol, idCol, shingleLen, threshold)

  /** Low-threshold plan: banded-MinHash candidates + EXACT Jaccard verify.
    *
    * Precision is exact (every candidate is re-checked against the true
    * shingle sets — set intersection in-expression, same tail as the
    * prefix plan). Recall is the banding curve 1 − (1 − J^r)^b evaluated
    * at r = 1: a true pair at similarity J is missed iff none of the `b`
    * independent min-lanes collide, probability (1 − J)^b — with the
    * default b = 64 that is 2.8e-4 at J = 0.12 and falls geometrically
    * above the threshold. r = 1 (every lane its own band) is the right
    * row count for LOW thresholds: the s-curve midpoint (1/b)^(1/r) must
    * sit BELOW t, and r ≥ 2 would push required b into the hundreds.
    *
    * Scale shape vs the inverted plan: a candidate needs a MINHASH LANE
    * collision (probability ≈ b·J for small J), not merely one shared
    * shingle (probability ≈ 1 for any pair touching a common trigram) —
    * at web scale that is the difference between O(b·n·J̄) and O(n²)
    * candidate rows. Each doc emits exactly `numHashes` bucket keys, so
    * the exchange is bounded and uniform by construction. */
  def ngramJaccardPairsMinhashVerify(df: DataFrame, textCol: String, idCol: String,
                                     shingleLen: Int, threshold: Double,
                                     numHashes: Int = 64): DataFrame = {
    val sig = signatures(df, textCol, idCol, shingleLen, numHashes,
      minhashSignatureFromShingles, withSets = true)
    // r = 1: band key = (lane index, lane value); uniform fan-out of
    // numHashes rows per doc
    val cand = bandPairs(sig,
      explode(arrays_zip(sequence(lit(0), lit(numHashes - 1)), col("_sig"))))
    exactJaccard(cand, sig, threshold)
  }

  /** The exact verify of both n-gram Jaccard candidate plans: joins the
    * two full shingle sets (`sets`: `_id`, `_sh`) onto each candidate pair
    * and scores them with one kernel ([[graft.functions.TextOps.intersectSize]],
    * O(|A|+|B|) per pair) — no shuffle explosion. The filter lands in the
    * second re-join's condition and the projection above scores the
    * survivors again, so a surviving pair is scored twice, a dropped one
    * once. Returns (id_a, id_b, jaccard ≥ threshold). */
  private def exactJaccard(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    withBothEnds(cand, sets, "_sh")
      .select(col("id_a"), col("id_b"),
        TextExpressions.jaccard(col("_sh_a"), col("_sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** Classic inverted-index plan: self-join on shingle → per-pair overlap
    * count (map-side partial) → size join → J filter. Candidates = every
    * pair sharing ANY (non-stop) shingle.
    *
    * `idCol` must be a key of `df`: [[shingles]] emits each window once
    * per row, so the (id, shingle) rows are distinct only when no two rows
    * share an id. */
  def ngramJaccardPairsInverted(df: DataFrame, textCol: String, idCol: String,
                                shingleLen: Int, threshold: Double,
                                maxShingleFreq: Long): DataFrame = {
    val ds = df.select(col(idCol).as("_id"),
        explode(shingles(col(textCol), shingleLen)).as("_sh"))
      .localCheckpoint(eager = false) // read by sizes, frequency filter, self-join (both sides)
    val filtered = ds.join(
      ds.groupBy(col("_sh")).agg(count(lit(1)).as("_f"))
        .where(col("_f") <= maxShingleFreq).select("_sh"),
      Seq("_sh"))
    val sizes = filtered.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    val inter = filtered.select(col("_id").as("id_a"), col("_sh"))
      .join(filtered.select(col("_id").as("id_b"), col("_sh")), Seq("_sh"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("_inter"))
    inter
      .join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "_na"), "id_a")
      .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "_nb"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("_inter").cast("double") / (col("_na") + col("_nb") - col("_inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard self-join with PREFIX FILTERING (Bayardo/
    * Chaudhuri et al. — the published exact algorithm for threshold
    * similarity joins). Results are identical to the naive
    * all-pairs-sharing-a-shingle plan; only the CANDIDATE generation
    * shrinks:
    *
    *  1. (id, shingle) rows — distinct without a shuffle, because
    *     [[shingles]] emits each window once per row and `idCol` must be a
    *     key of `df` — and the stop-shingle guard (`maxShingleFreq` —
    *     this one DOES change semantics and defaults high; prefix
    *     filtering below is what actually tames the blowup, exactly);
    *  2. global total order on shingles: rarest first (freq asc, shingle
    *     asc) — rare shingles generate few candidate pairs;
    *  3. per doc keep only the PREFIX of its ordered shingle set, length
    *     n − ⌈t·n⌉ + 1. Proof sketch: J(A,B) ≥ t forces overlap
    *     o ≥ t·(|A|+|B|)/(1+t) ≥ t·|A| (using |B| ≥ t·|A|); if A and B
    *     shared nothing in A's prefix, all common shingles would sit in
    *     A's suffix of size ⌈t·|A|⌉ − 1 < t·|A| — contradiction. With a
    *     consistent global order the first common shingle lies in BOTH
    *     prefixes, so joining prefix-to-prefix is complete;
    *  4. candidates also pass the size filter min(n) ≥ t·max(n);
    *  5. exact overlap is then counted ONLY for candidate pairs (the
    *     candidate list is dimension-sized and broadcast) by
    *     [[exactJaccard]]. */
  def ngramJaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
                              shingleLen: Int, threshold: Double,
                              maxShingleFreq: Long): DataFrame = {
    val ds = df.select(col(idCol).as("_id"),
        explode(shingles(col(textCol), shingleLen)).as("_sh"))
      .localCheckpoint(eager = false) // read by freq and perDoc: shingling runs once
    val freq = ds.groupBy(col("_sh")).agg(count(lit(1)).as("_f"))
      .where(col("_f") <= maxShingleFreq)
    // per-doc shingle set ordered rarest-first (global total order:
    // freq asc, shingle asc), with its size
    val perDoc = ds.join(freq, Seq("_sh"))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_f"), col("_sh")))).as("_arr"),
        count(lit(1)).as("_n"))
      .localCheckpoint(eager = false) // read by prefix explode + per-pair exact intersection
    // prefix of length n − ⌈t·n⌉ + 1 (complete by the prefix-filter theorem)
    val prefixLen = (col("_n") - ceil(col("_n") * lit(threshold)) + 1).cast("int")
    val prefix = perDoc
      .select(col("_id"), col("_n"),
        explode(slice(col("_arr")("_sh"), lit(1), prefixLen)).as("_sh"))
    val cand = prefix.select(col("_id").as("id_a"), col("_n").as("_na"), col("_sh"))
      .join(prefix.select(col("_id").as("id_b"), col("_n").as("_nb"), col("_sh")), Seq("_sh"))
      .where(col("id_a") < col("id_b") &&
        least(col("_na"), col("_nb")) >= lit(threshold) * greatest(col("_na"), col("_nb")))
      .select(col("id_a"), col("id_b"), col("_na"), col("_nb"))
      .distinct()
    // exact overlap ONLY for the (dimension-sized) candidate list
    exactJaccard(cand,
      perDoc.select(col("_id"), col("_arr")("_sh").as("_sh")), threshold)
  }

  /** Embedding-cosine near-duplicate pairs (the vector analog of MinHash
    * dedup, per the build brief's dedup inventory).
    *
    * Plan shape (never all-pairs):
    *  1. narrow: quantize (round(x·10^6) as long) + random-hyperplane
    *     signature per row ([[Similarity.lshSignatureQuantized]]);
    *  2. explode to `bands` (band, band-bits) keys per row; candidate
    *     pairs = rows sharing ≥1 band bucket — the self-join is equi-hash
    *     on the band key ([[bandPairs]]: ids only cross the exchange;
    *     vectors are re-joined per candidate afterwards, so the wide band
    *     shuffle carries 16 bytes/row, not the embedding);
    *  3. EXACT threshold verify in integer arithmetic: cos ≥ t ⟺
    *     dot > 0 ∧ t2d·dot² ≥ t2n·‖a‖²·‖b‖² with t² = t2n/t2d, evaluated
    *     in DECIMAL(38,0) (dot ≤ dim·(10^6)² ≈ 10^14 for unit-scale
    *     embeddings, dot² ≈ 10^28 — 38 digits suffice), so the decision is
    *     bit-reproducible in any 128-bit-integer engine (DuckDB: HUGEINT),
    *     with no float-summation-order or sqrt-rounding hazard.
    *
    * Recall < 1 by construction (a true pair may share no band — measured
    * against brute force in DedupSpec); precision is exact. Returns
    * (id_a, id_b, dot_q) with id_a < id_b, dot_q = the integer dot. */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            t2n: Long, t2d: Long,
                            planes: Array[Array[Int]], bands: Int): DataFrame = {
    val nPlanes = planes.length
    require(nPlanes % bands == 0, "bands must divide the plane count")
    require(t2n >= 0 && t2d > 0 && t2n <= t2d, "need 0 <= t2n/t2d = t^2 <= 1")
    import graft.functions.VectorExpressions.{lsh_signature, vec_dot_long, vec_quantize_e6}
    // the quantized vector is made once, in its own projection, and read
    // by the signature, the norm and the re-joins
    val qv = col("_qv")
    val base = df.select(col(idCol).as("_id"), vec_quantize_e6(col(vecCol)).as("_qv"))
      .select(col("_id"), qv, lsh_signature(qv, planes).as("_sig"),
        vec_dot_long(qv, qv).as("_n2"))
    val cand = bandPairs(base, bitBands(col("_sig"), bands, nPlanes / bands))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // dot via the codegen'd vec_dot_long kernel: Spark's HOF form
    // (aggregate+zip_with) is CodegenFallback (~µs/eval) AND gets inlined
    // by CollapseProject into the filter 4× — the native expression makes
    // even the inlined copies ~ns-cheap, so no barrier is needed.
    val dot = vec_dot_long(col("_qv_a"), col("_qv_b"))
    withBothEnds(cand, base, "_qv", "_n2")
      .where(dot > 0 &&
        dot.cast(dec) * dot.cast(dec) * lit(t2d).cast(dec) >=
          col("_n2_a").cast(dec) * col("_n2_b").cast(dec) * lit(t2n).cast(dec))
      .select(col("id_a"), col("id_b"), dot.as("dot_q"))
  }
}
