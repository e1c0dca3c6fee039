package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators for the engine's event/page feeds.
  *
  * The reference is strictly batch (SURVEY.md §2.9) — these are engine
  * additions following the brief's streaming surface: watermarked windowed
  * aggregation, and custom sessionization state via
  * `flatMapGroupsWithState` (the KeyValueGroupedDataset stateful seam).
  * Both operate on the same schema as the batch `ev_*` queries so
  * streaming/batch parity is directly testable (StreamingCheckpointSpec).
  */
object StreamOps {

  /** Watermarked tumbling-window count+sum per event type — the streaming
    * twin of the batch `ev_window` query. */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour",
                  watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(unix_timestamp(col("window.start")).as("bucket"),
        col("event_type"), col("n"), col("value_cents"))

  /** Streaming spatial join — the north-star ingestion shape: geotagged
    * pages arrive as a STREAM and join against the static polygon
    * dimension. Stream-static inner joins are stateless (no watermark, no
    * state store): each micro-batch runs the identical cell-encode →
    * broadcast cell join → exact ray-cast refine plan as the batch
    * flagship, so the 10^12-scale properties (points side never shuffled)
    * carry over verbatim. Parity with the batch join is asserted in
    * StreamingCheckpointSpec. */
  def spatialJoinStream(pages: DataFrame, polys: DataFrame, res: Int): DataFrame =
    graft.operators.SpatialJoin.pointsInPolygons(pages, polys, res)

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exactDedupByHash]]: first occurrence of each
    * content hash survives, late duplicates are dropped. The text is hashed
    * down to 128 bits BEFORE the stateful operator (same reason as batch:
    * the state store and shuffle carry hashes, not documents), and
    * `dropDuplicatesWithinWatermark` bounds the state store — a duplicate
    * arriving later than the watermark delay is passed through rather than
    * remembered, which is THE scale contract for dedup over an unbounded
    * stream (exact forever ⇒ unbounded state at 10^12 docs). Batch parity
    * on in-watermark duplicates is asserted in StreamingCheckpointSpec. */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_md5", md5(to_binary(col(textCol), lit("utf-8"))))
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming decontamination — the streaming twin of
    * [[graft.operators.CorpusOps.flagOverlap]]: flag each arriving train
    * doc sharing an n-token shingle with the STATIC eval/benchmark set.
    * The eval side is benchmark-sized dimension data, so the match is a
    * STATELESS stream-static broadcast equi-join on the 60-bit shingle
    * hash — the unbounded train stream is never shuffled before its own
    * per-doc aggregation, and the join itself holds zero state. The only
    * stateful operator is the per-doc count, watermark-bounded like every
    * twin here (exact-forever = unbounded state). `count` replaces the
    * batch `countDistinct` (unsupported in streaming aggregation) and is
    * EQUAL to it because [[graft.operators.Dedup.shingles]] already
    * dedupes per doc and each doc arrives once. Converged output equals
    * batch flagOverlap over the same rows — StreamingCheckpointSpec. */
  def decontaminateStream(train: DataFrame, eval: DataFrame, textCol: String,
                          idCol: String, tsCol: String, n: Int,
                          watermark: String = "1 hour"): DataFrame = {
    val evalHashes = eval
      .select(explode(graft.operators.Dedup.shingles(col(textCol), n)).as("_sh"))
      .select(graft.operators.Dedup.hash60(col("_sh")).as("_h"))
      .distinct()
    train
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode(graft.operators.Dedup.shingles(col(textCol), n)).as("_sh"))
      .select(col(idCol), col(tsCol), graft.operators.Dedup.hash60(col("_sh")).as("_h"))
      .join(broadcast(evalHashes), "_h")
      .groupBy(window(col(tsCol), "1 hour"), col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .drop("window")
  }

  /** Incremental cell-index maintenance — the streaming twin of
    * [[graft.operators.CellIndex.build]]: as pages append, the per-cell
    * (n_rows, exact bounds) statistics update in place (complete/update
    * output). count/min/max are all monoidal, so the state store carries
    * ONE row per coarse cell (bounded by 4^res, never by the stream), and
    * the converged state equals the batch index over the same rows —
    * asserted in StreamingCheckpointSpec. At 100 TB this is how the
    * pruning index stays fresh under continuous ingest without re-scanning
    * the fact table. */
  def cellIndexStream(pages: DataFrame, res: Int,
                      latCol: String = "lat", lngCol: String = "lng"): DataFrame =
    graft.operators.CellIndex.build(pages, res, latCol, lngCol)

  // ---- streaming near-dup twin (round 5) -------------------------------

  case class BandDoc(band: Int, bandHash: String, doc_id: Long, sig: Array[Long])
  case class NearDupPair(id_a: Long, id_b: Long, est_jaccard: Double)
  /** Per-bucket state as parallel arrays (product-encoder friendly). */
  case class BucketState(ids: Array[Long], sigs: Array[Array[Long]])

  /** Incremental MinHash-LSH near-dup detection under continuous ingest —
    * the streaming twin of [[graft.operators.Dedup.minhashLshPairs]].
    *
    * Plan shape: the narrow signature + banding stages are the IDENTICAL
    * expressions as batch (single-pass aggregate signature, `bands`
    * bucket keys per doc); the self-join becomes a STATEFUL band-bucket
    * operator (`flatMapGroupsWithState` keyed on (band, bandHash)): each
    * bucket's state holds the (id, signature) of docs seen there, a new
    * arrival emits a verified pair against every co-bucketed predecessor
    * (est-jaccard = full-signature lane agreement, the batch verify) and
    * joins the state. So pairs stream out AS THE DUPLICATE ARRIVES — no
    * re-scan of the corpus, the per-event cost is bounded by bucket
    * occupancy.
    *
    * Scale contract (the same trade [[dedupStream]] makes): bucket state
    * is expired after `ttlMs` idle (processing-time timeout) — a near-dup
    * arriving farther apart than the TTL is passed through rather than
    * paired, because exact-forever means unbounded state at 10^12 docs.
    * Over a finite stream with no timeout firing, the emitted pair set
    * CONVERGES to the batch `minhashLshPairs` result exactly
    * (StreamingCheckpointSpec) — a pair sharing k bands is emitted k
    * times (once per bucket); downstream dedup is
    * `dropDuplicatesWithinWatermark` in production or a plain distinct on
    * a bounded window.
    *
    * Skew note: a degenerate band value (e.g. boilerplate-heavy shingles)
    * concentrates docs in one bucket and pair emission is quadratic in
    * its occupancy — identical blowup to the batch LSH join on the same
    * data; the TTL is also the pressure valve for that case.
    *
    * The timeout makes every trigger plan a no-data batch, so a
    * `Trigger.AvailableNow` query never ends unless
    * `spark.sql.streaming.noDataMicroBatches.enabled` is false; with
    * no-data batches off, timeouts fire only when data arrives. */
  def nearDupPairsStream(docs: DataFrame, textCol: String, idCol: String,
                         shingleLen: Int = 2, numHashes: Int = 32,
                         bands: Int = 16, threshold: Double = 0.1,
                         ttlMs: Long = 3600L * 1000L): Dataset[NearDupPair] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import docs.sparkSession.implicits._
    import graft.operators.Dedup
    val rowsPerBand = numHashes / bands
    val sig = docs
      .select(col(idCol).cast("long").as("doc_id"),
        Dedup.shingles(col(textCol), shingleLen).as("_sh"))
      .where(size(col("_sh")) > 0)
      .select(col("doc_id"),
        Dedup.minhashSignatureFromShingles(col("_sh"), numHashes).as("sig"))
    val banded = sig
      .withColumn("_band", explode(Dedup.bandKeys(col("sig"), bands, rowsPerBand)))
      .select(col("_band.b").as("band"), col("_band.h").as("bandHash"),
        col("doc_id"), col("sig"))
      .as[BandDoc]
    banded
      .groupByKey(r => (r.band, r.bandHash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        bucketPairs(numHashes, threshold, ttlMs))
  }

  /** Pure per-bucket transition (unit-testable without a stream): emit
    * verified pairs of each new arrival vs the bucket's resident docs
    * (and earlier same-trigger arrivals), then absorb the arrivals.
    * Arrivals are folded in doc_id order so emission is deterministic.
    * On timeout the bucket state is dropped (TTL contract above). */
  def bucketPairs(numHashes: Int, threshold: Double, ttlMs: Long)(
      key: (Int, String), rows: Iterator[BandDoc],
      state: GroupState[BucketState]): Iterator[NearDupPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var ids = state.getOption.map(_.ids).getOrElse(Array.emptyLongArray)
    var sigs = state.getOption.map(_.sigs).getOrElse(Array.empty[Array[Long]])
    val out = scala.collection.mutable.ArrayBuffer[NearDupPair]()
    rows.toSeq.sortBy(_.doc_id).foreach { r =>
      if (!ids.contains(r.doc_id)) {
        var i = 0
        while (i < ids.length) {
          var eq = 0
          var k = 0
          while (k < numHashes) { if (sigs(i)(k) == r.sig(k)) eq += 1; k += 1 }
          val est = eq.toDouble / numHashes
          if (est >= threshold)
            out += (if (ids(i) < r.doc_id) NearDupPair(ids(i), r.doc_id, est)
                    else NearDupPair(r.doc_id, ids(i), est))
          i += 1
        }
        ids = ids :+ r.doc_id
        sigs = sigs :+ r.sig
      }
    }
    state.update(BucketState(ids, sigs))
    try state.setTimeoutDuration(ttlMs) catch { case _: UnsupportedOperationException => }
    out.iterator
  }

  /** Streaming heavy-hitters twin: terms hash-shard across `shards` keyed
    * states; each shard folds its arrivals into a Misra–Gries summary
    * (k counters — the state is k-bounded per shard, NEVER
    * vocabulary-bounded) and re-emits its current candidate snapshot
    * every trigger (Update mode). A term lives in exactly one shard, so
    * the batch guarantee carries over per shard with N_shard ≤ N: any
    * term with global freq ≥ N/denom (k ≥ denom) has a positive counter
    * in its shard's summary at every trigger — the emitted union is a
    * guaranteed superset, and exact counts come from the same batch
    * verify pass as [[graft.operators.Sketches.heavyHitters]]. */
  def heavyHittersStream(terms: DataFrame, termCol: String, k: Int,
                         shards: Int = 32): DataFrame = {
    import terms.sparkSession.implicits._
    val mg = new graft.operators.Sketches.MisraGries(k)
    terms
      .select(pmod(xxhash64(col(termCol)), lit(shards.toLong)).as("shard"),
        col(termCol).cast("string").as("term"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (shard: Long, rows: Iterator[(Long, String)],
         state: GroupState[Map[String, Long]]) => {
          val cur = rows.foldLeft(state.getOption.getOrElse(mg.zero)) {
            (m, r) => mg.reduce(m, r._2)
          }
          state.update(cur)
          cur.iterator.map { case (t, c) => (shard, t, c) }
        })
      .toDF("shard", "term", "mg_count")
  }

  case class Event(event_id: Long, user_id: Long, ts_us: Long, value: Double)
  case class SessionState(sessionId: Long, lastUs: Long, nEvents: Long, cents: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long, value_cents: Long)

  final val GapUs: Long = 1800L * 1000000L // 30 min

  /** Stateful sessionization: emits a row per CLOSED session (gap > 30 min
    * between consecutive events of a user). State = the open session.
    * Streaming twin of the batch `ev_sessionize` window query, as a
    * `flatMapGroupsWithState` operator (per-key mutable state, the engine's
    * custom-state seam). A processing-time timeout (the gap duration)
    * closes idle users' open sessions and drops their state — without it,
    * an idle user's session would never be emitted and its state retained
    * forever (unbounded state at 10^9 users). As in [[nearDupPairsStream]],
    * a `Trigger.AvailableNow` query ends only with
    * `spark.sql.streaming.noDataMicroBatches.enabled` false, and then
    * timeouts fire only when data arrives. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        sessionizeGroup)
  }

  /** Pure state-transition function (unit-testable without a stream):
    * folds a user's new events (ordered by ts) into the open session,
    * emitting each session closed by a > 30 min gap. On a timeout firing
    * (no events for the user this trigger), the open session is emitted
    * and the state cleared. */
  def sessionizeGroup(userId: Long, rows: Iterator[Event],
                      state: GroupState[SessionState]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      // idle user: close and emit the open session, release its state
      val open = state.getOption.map(st => SessionOut(userId, st.sessionId, st.nEvents, st.cents))
      state.remove()
      return open.iterator
    }
    var st = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
    rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      // Spark round() semantics (BigDecimal HALF_UP, away from zero) so
      // closed sessions match the batch ev_sessionize twin to the cent —
      // math.round (half toward +inf) differs on negative exact halves
      val cents = java.math.BigDecimal.valueOf(e.value * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      if (st == null) st = SessionState(0L, e.ts_us, 1L, cents)
      else if (e.ts_us - st.lastUs > GapUs) {
        out += SessionOut(userId, st.sessionId, st.nEvents, st.cents)
        st = SessionState(st.sessionId + 1, e.ts_us, 1L, cents)
      } else st = st.copy(lastUs = e.ts_us, nEvents = st.nEvents + 1, cents = st.cents + cents)
    }
    if (st != null) {
      state.update(st)
      // re-arm: fire if the user stays idle for a full gap (no-op when the
      // caller configured NoTimeout, e.g. direct unit tests of this fn)
      try state.setTimeoutDuration(GapUs / 1000) catch { case _: UnsupportedOperationException => }
    }
    out.iterator
  }
}
