package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale corpus deduplication operators (training-data pipeline ops;
  * not present in the reference — required engine components per the build
  * brief). All are pure DataFrame plans: shuffles only on the natural keys,
  * map-side partial aggregation everywhere, no driver-side loops.
  */
object Dedup {

  /** Tokenize to non-empty lowercase word tokens. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  /** n-token shingles of a text column (overlapping windows).
    *
    * The token array is LET-BOUND ([[graft.functions.ExprUtils.bind]]):
    * inlining the tokenization tree into the per-window `slice` lambda
    * re-ran the regex split once per window — O(tokens²) per document
    * (measured: 7.7 s to shingle the 5000-doc fixture; bound, ~0.3 s). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ExprUtils.bind(tokens(text)) { toks =>
      when(size(toks) >= n,
        array_distinct(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
        .otherwise(array().cast("array<string>"))
    }

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

  /** Default (engine-internal) lane-hash family: per-lane xxhash64 —
    * element → array of `n` lane hashes. */
  def xxLaneHashes(n: Int)(s: Column): Column =
    array((0 until n).map(i => xxhash64(lit(i), s)): _*)

  /** MinHash signature over an ALREADY-MATERIALIZED shingle-array column —
    * SINGLE PASS: one `aggregate` carries an array<long> accumulator of
    * `numHashes` running minima, updated lane-wise per element with
    * `zip_with`. (The naive per-lane `transform`+`array_min` form re-walks
    * the array `numHashes` times — 32× the traversals — and, worse,
    * Catalyst's CollapseProject inlines a non-materialized shingle subtree
    * into every lane; callers must still cache/checkpoint the shingle
    * column.) Empty shingle arrays yield Long.MaxValue lanes. */
  def minhashSignatureFromShingles(sh: Column, numHashes: Int): Column =
    aggregate(
      sh,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(acc, xxLaneHashes(numHashes)(s), (a, h) => least(a, h)))

  /** Oracle-portable MinHash signature via Kirsch–Mitzenmacher double
    * hashing: ONE md5 per shingle yields two independent 60-bit halves
    * (h1 = hex chars 1-15, h2 = chars 17-31 >> 5), lane_i =
    * (h1 + i·h2) & (2^60 − 1) — the standard k-hashes-from-2 construction,
    * overflow-free in 63 bits and reproducible in DuckDB.
    *
    * The (h1, h2) pair is materialized per element by a dedicated
    * `transform` BEFORE the aggregate: lambda bodies get no common-
    * subexpression elimination, so an md5 referenced inside the per-lane
    * lambda would re-hash the shingle once per lane (measured: 25 s vs
    * ~3 s at sf0.1). */
  def minhashSignaturePortable(sh: Column, numHashes: Int): Column = {
    val hp = transform(sh, s => {
      val m = md5(to_binary(s, lit("utf-8")))
      array(conv(substring(m, 1, 15), 16, 10).cast("long"),
        shiftright(conv(substring(m, 17, 15), 16, 10).cast("long"), 5))
    })
    aggregate(
      hp,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, p) => zip_with(acc,
        transform(sequence(lit(0), lit(numHashes - 1)),
          i => (element_at(p, 1) + i.cast("long") * element_at(p, 2))
            .bitwiseAND(lit((1L << 60) - 1))),
        (a, h) => least(a, h)))
  }

  /** LSH band keys of a MinHash signature: one struct(b, h) per band `b`,
    * `h` the band's `rowsPerBand` lane values joined with ",". The raw
    * joined-lane string keeps candidate equality classes exact (and
    * oracle-reproducible). Shared by the batch and streaming LSH plans. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("b"),
        concat_ws(",", transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast("string"))).as("h")))

  /** MinHash + LSH banding near-dup candidate pairs, verified by estimated
    * Jaccard (fraction of matching signature positions).
    *
    * Plan shape (the scale path for fuzzy dedup at 10^12 docs):
    *   1. narrow: signature per doc (single-pass aggregate, no shuffle)
    *   2. explode to `bands` rows/doc, band key = the band's lane values
    *      (shuffle key — uniform by construction, no skew)
    *   3. self-join within buckets (docs sharing ≥1 identical band)
    *   4. distinct pairs, then verify on signature agreement ≥ threshold
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
    val rowsPerBand = numHashes / bands
    // materialization barrier: the shingle array feeds the signature
    // aggregate; without it CollapseProject re-runs the regex tokenization
    // per consumer. (At 10^12 scale: a checkpointed table.)
    // Docs too short to produce one shingle are EXCLUDED: they have no
    // fingerprint in this family, and the all-sentinel signature would
    // otherwise bucket every short doc together — M²/2 spurious
    // est_jaccard=1.0 pairs of unrelated texts plus a one-bucket hot key.
    val sh = df.select(col(idCol).as("_id"),
      shingles(col(textCol), shingleLen).as("_sh"))
      .where(size(col("_sh")) > 0).cache()
    val sig = sh.select(col("_id"),
      signature(col("_sh"), numHashes).as("_sig"))
      .cache()
    // IDS-ONLY band exchange (the discipline embeddingNearDupPairs and
    // ngramJaccardPairsMinhashVerify already follow): the self-join and
    // the pair-dedup carry (band-key, id) — 8 bytes of id, never the
    // numHashes×8-byte signature. At 10^12 docs the signature-carrying
    // variant shipped ~8 KB/doc ×bands through its widest shuffle (~100×
    // this exchange); signatures are re-joined per CANDIDATE PAIR after
    // dropDuplicates, which is bounded by the (much smaller) candidate
    // count. Results identical: est_jaccard is a pure function of the two
    // signatures, computed once per pair either way.
    val banded = sig.withColumn("_band",
        explode(bandKeys(col("_sig"), bands, rowsPerBand)))
      .select(col("_id"), col("_band.b").as("_b"), col("_band.h").as("_h"))
    val cand = banded.select(col("_id").as("id_a"), col("_b"), col("_h"))
      .join(banded.select(col("_id").as("id_b"), col("_b"), col("_h")), Seq("_b", "_h"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sig.select(col("_id").as("id_a"), col("_sig").as("_sig_a")), Seq("id_a"))
      .join(sig.select(col("_id").as("id_b"), col("_sig").as("_sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("_sig_a"), col("_sig_b"), (x, y) => x === y), b => b))
          .cast("double") / lit(numHashes)).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** SimHash width: 60 bits (not 64) so every bit comes from the portable
    * 60-bit md5 hash and the DuckDB oracle reproduces fingerprints exactly. */
  final val SimHashBits = 60

  private val simhashMasks: Column =
    array((0 until SimHashBits).map(i => lit(1L << i)): _*)

  /** SimHash: 60-bit locality-sensitive fingerprint — bit i of the result is
    * the sign of Σ_tokens (2·bit_i(hash(token)) − 1). One narrow pass. */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(tokens(text), t => hash60(t)))

  /** SimHash from a materialized token-hash array column — SINGLE PASS: one
    * `aggregate` carries all 60 bit-vote counters in an array<long>
    * accumulator (the per-bit-lane form walks the array 60 times).
    * Materialize the hash array behind a barrier on hot paths (the
    * CollapseProject caveat). */
  def simhashFromHashes(hashes: Column): Column = {
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), SimHashBits),
      (acc, h) => zip_with(acc, simhashMasks,
        (a, m) => when(h.bitwiseAND(m) =!= 0, a + 1).otherwise(a - 1)))
    aggregate(
      zip_with(votes, simhashMasks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)
  }

  /** Hamming distance between two fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via band-bucketing, then exact Hamming verify.
    *
    * RECALL GUARANTEE (pigeonhole): a pair within Hamming distance d of a
    * fingerprint split into `bands` equal segments must agree on at least
    * `bands - d` segments — so candidates are complete iff
    * `maxHamming < bands` (enforced). The classic Google configuration is
    * 4 bands of 15/16 bits for d ≤ 3; a larger budget needs more, narrower
    * bands (e.g. d=10 → 12 bands of 5 bits) at the cost of bigger buckets. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole recall needs bands > maxHamming (got bands=$bands, maxHamming=$maxHamming)")
    require(SimHashBits % bands == 0, s"bands must divide $SimHashBits")
    val bandBits = SimHashBits / bands
    val bandMask = (1L << bandBits) - 1
    // zero-token docs are excluded: they'd all get fingerprint 0 and pair
    // with each other at Hamming 0 (same artifact as the MinHash sentinel)
    val th = df.select(col(idCol).as("_id"),
      transform(tokens(col(textCol)), t => hash60(t)).as("_th"))
      .where(size(col("_th")) > 0).cache()
    val fp = th.select(col("_id"), simhashFromHashes(col("_th")).as("_fp")).cache()
    val banded = fp.withColumn("_q", explode(array((0 until bands).map { q =>
      struct(lit(q).as("q"), shiftright(col("_fp"), q * bandBits).bitwiseAND(lit(bandMask)).as("v"))
    }: _*)))
    val l = banded.select(col("_id").as("id_a"), col("_fp").as("_fa"), col("_q"))
    val r = banded.select(col("_id").as("id_b"), col("_fp").as("_fb"), col("_q"))
    l.join(r, Seq("_q"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("_fa"), col("_fb")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard self-join with PREFIX FILTERING (Bayardo/
    * Chaudhuri et al. — the published exact algorithm for threshold
    * similarity joins). Results are identical to the naive
    * all-pairs-sharing-a-shingle plan; only the CANDIDATE generation
    * shrinks:
    *
    *  1. (id, shingle) distinct, stop-shingle guard (`maxShingleFreq` —
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
    *     candidate list is dimension-sized and broadcast).
    */
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
    val sh = df.select(col(idCol).as("_id"),
        shingles(col(textCol), shingleLen).as("_sh"))
      .where(size(col("_sh")) > 0)
      .cache() // consumers: signature banding + per-pair exact verify
    // cached: `banded` feeds BOTH sides of the candidate self-join, and
    // without the barrier each side re-runs the 64-lane signature
    // aggregate (the dominant narrow cost) over the cached shingles
    val sig = sh.select(col("_id"),
      minhashSignatureFromShingles(col("_sh"), numHashes).as("_sig"))
      .cache()
    // r = 1: band key = (lane index, lane value); uniform fan-out of
    // numHashes rows per doc
    val banded = sig.select(col("_id"),
      explode(transform(sequence(lit(0), lit(numHashes - 1)),
        i => struct(i.as("b"), element_at(col("_sig"), i + 1).as("h")))).as("_band"))
    val cand = banded.select(col("_id").as("id_a"), col("_band"))
      .join(banded.select(col("_id").as("id_b"), col("_band")), Seq("_band"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // exact verify — identical arithmetic to the prefix plan's tail
    cand
      .join(sh.select(col("_id").as("id_a"), col("_sh").as("_seta")), Seq("id_a"))
      .join(sh.select(col("_id").as("id_b"), col("_sh").as("_setb")), Seq("id_b"))
      .withColumn("_i", size(array_intersect(col("_seta"), col("_setb"))).cast("double"))
      .select(col("id_a"), col("id_b"),
        (col("_i") / (size(col("_seta")) + size(col("_setb")) - col("_i"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Classic inverted-index plan: self-join on shingle → per-pair overlap
    * count (map-side partial) → size join → J filter. Candidates = every
    * pair sharing ANY (non-stop) shingle. */
  def ngramJaccardPairsInverted(df: DataFrame, textCol: String, idCol: String,
                                shingleLen: Int, threshold: Double,
                                maxShingleFreq: Long): DataFrame = {
    val ds = df.select(col(idCol).as("_id"),
        explode(shingles(col(textCol), shingleLen)).as("_sh"))
      .distinct()
      .cache() // reused: sizes, frequency filter, self-join (both sides)
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

  /** Prefix-filter plan (see the theorem sketch above). */
  def ngramJaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
                              shingleLen: Int, threshold: Double,
                              maxShingleFreq: Long): DataFrame = {
    val ds = df.select(col(idCol).as("_id"),
        explode(shingles(col(textCol), shingleLen)).as("_sh"))
      .distinct()
      .cache() // two consumers (freq, perDoc): shingling is the dominant
               // narrow cost — same trade the inverted plan makes
    val freq = ds.groupBy(col("_sh")).agg(count(lit(1)).as("_f"))
      .where(col("_f") <= maxShingleFreq)
    // per-doc shingle set ordered rarest-first (global total order:
    // freq asc, shingle asc), with its size
    val perDoc = ds.join(freq, Seq("_sh"))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_f"), col("_sh")))).as("_arr"),
        count(lit(1)).as("_n"))
      .cache() // reused: prefix explode + per-pair exact intersection
    // prefix of length n − ⌈t·n⌉ + 1 (complete by the prefix-filter theorem)
    val prefixLen = (col("_n") - ceil(col("_n") * lit(threshold)) + 1).cast("int")
    val prefix = perDoc
      .select(col("_id"), col("_n"),
        explode(slice(transform(col("_arr"), x => x("_sh")), lit(1), prefixLen)).as("_sh"))
    val cand = prefix.select(col("_id").as("id_a"), col("_n").as("_na"), col("_sh"))
      .join(prefix.select(col("_id").as("id_b"), col("_n").as("_nb"), col("_sh")), Seq("_sh"))
      .where(col("id_a") < col("id_b") &&
        least(col("_na"), col("_nb")) >= lit(threshold) * greatest(col("_na"), col("_nb")))
      .select(col("id_a"), col("id_b"), col("_na"), col("_nb"))
      .distinct()
    // exact overlap ONLY for the (dimension-sized) candidate list: join the
    // two full sets per pair and intersect in-expression — no shuffle
    // explosion, O(|A|+|B|) per candidate
    val sets = perDoc.select(col("_id"),
      transform(col("_arr"), x => x("_sh")).as("_set"))
    cand
      .join(sets.select(col("_id").as("id_a"), col("_set").as("_seta")), Seq("id_a"))
      .join(sets.select(col("_id").as("id_b"), col("_set").as("_setb")), Seq("id_b"))
      // materialize the intersection size once — inlining it into the
      // jaccard expression would evaluate array_intersect twice per pair
      .withColumn("_i", size(array_intersect(col("_seta"), col("_setb"))).cast("double"))
      .select(col("id_a"), col("id_b"),
        (col("_i") / (col("_na") + col("_nb") - col("_i"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs (the vector analog of MinHash
    * dedup, per the build brief's dedup inventory).
    *
    * Plan shape (never all-pairs):
    *  1. narrow: quantize (round(x·10^6) as long) + random-hyperplane
    *     signature per row ([[Similarity.lshSignatureQuantized]]);
    *  2. explode to `bands` (band, band-bits) keys per row; candidate
    *     pairs = rows sharing ≥1 band bucket — the self-join is equi-hash
    *     on the band key (ids only cross the exchange; vectors are
    *     re-joined per candidate afterwards, so the wide band shuffle
    *     carries 16 bytes/row, not the embedding);
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
    val bandBits = nPlanes / bands
    val mask = (1L << bandBits) - 1
    import graft.functions.VectorExpressions.vec_dot_long
    val base = df.select(
      col(idCol).as("_id"),
      transform(col(vecCol), x => round(x.cast("double") * 1000000d).cast("long")).as("_qv"),
      Similarity.lshSignatureQuantized(col(vecCol), planes).as("_sig"))
      .withColumn("_n2", vec_dot_long(col("_qv"), col("_qv")))
    val bandedIds = base.select(col("_id"), col("_sig"))
      .withColumn("_band", explode(array((0 until bands).map { b =>
        struct(lit(b).as("b"),
          shiftright(col("_sig"), b * bandBits).bitwiseAND(lit(mask)).as("v"))
      }: _*)))
      .select(col("_id"), col("_band"))
    val cand = bandedIds.select(col("_id").as("id_a"), col("_band"))
      .join(bandedIds.select(col("_id").as("id_b"), col("_band")), Seq("_band"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // dot via the codegen'd vec_dot_long kernel: Spark's HOF form
    // (aggregate+zip_with) is CodegenFallback (~µs/eval) AND gets inlined
    // by CollapseProject into the filter 4× — the native expression makes
    // even the inlined copies ~ns-cheap, so no barrier is needed.
    val dot = vec_dot_long(col("_qa"), col("_qb"))
    cand
      .join(base.select(col("_id").as("id_a"), col("_qv").as("_qa"), col("_n2").as("_na")), Seq("id_a"))
      .join(base.select(col("_id").as("id_b"), col("_qv").as("_qb"), col("_n2").as("_nb")), Seq("id_b"))
      .where(dot > 0 &&
        dot.cast(dec) * dot.cast(dec) * lit(t2d).cast(dec) >=
          col("_na").cast(dec) * col("_nb").cast(dec) * lit(t2n).cast(dec))
      .select(col("id_a"), col("id_b"), dot.as("dot_q"))
  }
}
