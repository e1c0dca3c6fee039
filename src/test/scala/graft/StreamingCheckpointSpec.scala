package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

/** Structured Streaming parity (windowed agg over the events table matches
  * the batch result) + checkpoint/resume semantics. */
class StreamingCheckpointSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming windowed agg == batch windowed agg on the events table") {
    // FileStreamSource needs a directory, not a single file
    val streamDir = Paths.get(tmpPath("stream_events"))
    Files.createDirectories(streamDir)
    Files.copy(Paths.get(s"$sfDir/events.parquet"), streamDir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
    val qname = "ev_stream_out"
    val q = graft.streaming.StreamOps.windowedAgg(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName(qname)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table(qname)
      .as[(Long, String, Long, Long)].collect().toSet
    // the batch twin: the catalog's ev_window query
    val exp = SparkEntry.queries("ev_window")(spark, sfDir)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == exp)
    assert(exp.nonEmpty)
  }

  test("stateful sessionization (flatMapGroupsWithState) matches the batch window query") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.{Event, SessionOut}
    // run the stateful operator in a micro-batch stream over the events table
    val streamDir = Paths.get(tmpPath("stream_events2"))
    Files.createDirectories(streamDir)
    Files.copy(Paths.get(s"$sfDir/events.parquet"), streamDir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val evStream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as[Event]
    val q = StreamOps.sessionize(evStream)
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val closed = spark.table("sess_out").as[SessionOut].collect().toSet

    // batch oracle: the ev_sessionize window query, minus each user's LAST
    // session (still open in the stream's state)
    val batch = SparkEntry.queries("ev_sessionize")(spark, sfDir)
      .select(col("user_id"), col("session_id") - 1, col("n_events"), col("value_cents"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, s, n, c) => SessionOut(u, s, n, c) }
    val lastPerUser = batch.groupBy(_.user_id).view.mapValues(_.map(_.session_id).max).toMap
    val expClosed = batch.filterNot(s => lastPerUser(s.user_id) == s.session_id).toSet
    assert(closed == expClosed)
    assert(closed.nonEmpty)
  }

  test("streaming spatial join (stream-static broadcast) == batch flagship join") {
    val streamDir = Paths.get(tmpPath("stream_pages"))
    org.apache.commons.io.FileUtils.deleteQuietly(streamDir.toFile)
    Files.createDirectories(streamDir)
    // materialize the derived pages as the stream source
    val pages = sources.DerivedTables.pages(spark, sfDir).select("page_id", "lat", "lng")
    pages.coalesce(2).write.mode("overwrite").parquet(streamDir.toString)
    val schema = spark.read.parquet(streamDir.toString).schema
    val polys = sources.DerivedTables.polygons(spark, sfDir)
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
    val joined = graft.streaming.StreamOps.spatialJoinStream(stream, polys, res = 5)
      .select(col("poly_id"), col("page_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("spatial_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("spatial_stream_out")
      .as[(Long, Long)].collect().toSet
    val exp = graft.operators.SpatialJoin.pointsInPolygons(pages, polys, res = 5)
      .select(col("poly_id"), col("page_id")).as[(Long, Long)].collect().toSet
    assert(got == exp)
    assert(exp.nonEmpty)
  }

  test("streaming cell-index maintenance converges to the batch index") {
    val streamDir = Paths.get(tmpPath("stream_cellindex"))
    org.apache.commons.io.FileUtils.deleteQuietly(streamDir.toFile)
    Files.createDirectories(streamDir)
    val pages = sources.DerivedTables.pages(spark, sfDir).select("page_id", "lat", "lng")
    // two appended files = two micro-batch arrivals
    pages.where(col("page_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir.toString)
    pages.where(col("page_id") % 2 === 1).coalesce(1).write.mode("append").parquet(streamDir.toString)
    val schema = spark.read.parquet(streamDir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = graft.streaming.StreamOps.cellIndexStream(stream, res = 4)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cell_index_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("cell_index_stream")
      .as[(Long, Long, Double, Double, Double, Double)].collect().toSet
    val exp = graft.operators.CellIndex.build(pages, res = 4)
      .as[(Long, Long, Double, Double, Double, Double)].collect().toSet
    assert(got == exp)
    assert(exp.size > 10)
  }

  test("streaming minhash-LSH near-dup pairs converge to the batch result (incremental)") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.NearDupPair
    import graft.operators.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".as[Long], $"text".as[String]).collect().toSeq
    assert(docs.size >= 40)
    // two micro-batches: pairs whose members arrive in DIFFERENT triggers
    // must still be found (that is the stateful part)
    val (first, second) = docs.splitAt(docs.size / 2)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    // Trigger.AvailableNow + a file sink, restarted per half over ONE
    // checkpoint: the default trigger would spin empty batches forever
    // evaluating processing-time timeouts, and the restart proves the
    // band-bucket STATE survives checkpoint recovery (pairs spanning the
    // two runs are only findable from recovered state)
    val base = Paths.get(tmpPath("neardup"))
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    def runOnce(): Unit = {
      val q = StreamOps.nearDupPairsStream(stream, "text", "doc_id",
          shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.1)
        .writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000); q.stop()
    }
    mem.addData(first: _*); runOnce()
    val afterFirst = spark.read.parquet(out).count()
    mem.addData(second: _*); runOnce()
    // cross-band duplicates collapse on distinct; est is band-independent
    val got = spark.read.parquet(out).as[NearDupPair]
      .collect().map(p => (p.id_a, p.id_b, math.round(p.est_jaccard * 10000))).toSet
    val exp = Dedup.minhashLshPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id",
        shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.1)
      .select($"id_a", $"id_b", round($"est_jaccard" * 10000).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == exp)
    assert(exp.nonEmpty)
    // incrementality: the resumed run added the cross-half pairs from
    // recovered state, not a recompute artifact
    assert(afterFirst < spark.read.parquet(out).count())
  }

  test("bucketPairs state transition: cross-trigger pairing, dedup, verify threshold") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.{BandDoc, BucketState}
    import org.apache.spark.sql.streaming.TestGroupState
    def freshState(prev: Option[BucketState], timedOut: Boolean) =
      TestGroupState.create[BucketState](
        optionalState = prev.map(org.apache.spark.api.java.Optional.of[BucketState])
          .getOrElse(org.apache.spark.api.java.Optional.empty[BucketState]()),
        timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
        batchProcessingTimeMs = 10000L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
        hasTimedOut = timedOut)
    val sigA = Array.fill(4)(7L)
    val sigB = Array(7L, 7L, 7L, 9L)   // 3/4 agreement
    val sigC = Array(1L, 2L, 3L, 4L)   // 0/4 vs A
    def bd(id: Long, sig: Array[Long]) = BandDoc(0, "k", id, sig)
    // trigger 1: A alone — no pairs, state armed with a TTL
    val st1 = freshState(None, timedOut = false)
    val out1 = StreamOps.bucketPairs(4, 0.5, 1000L)((0, "k"),
      Iterator(bd(10, sigA)), st1).toSeq
    assert(out1.isEmpty && st1.get.ids.toSeq == Seq(10L))
    assert(st1.getTimeoutTimestampMs.isPresent, "bucket TTL must be armed")
    // trigger 2: B pairs with resident A (0.75 ≥ 0.5); C verifies below
    // threshold vs everyone; duplicate re-delivery of A is absorbed
    val st2 = freshState(Some(st1.get), timedOut = false)
    val out2 = StreamOps.bucketPairs(4, 0.5, 1000L)((0, "k"),
      Iterator(bd(30, sigC), bd(20, sigB), bd(10, sigA)), st2).toSeq
    assert(out2.map(p => (p.id_a, p.id_b, p.est_jaccard)) == Seq((10L, 20L, 0.75)))
    assert(st2.get.ids.sorted.toSeq == Seq(10L, 20L, 30L))
    // timeout: the bucket's state is dropped (TTL scale contract)
    val st3 = freshState(Some(st2.get), timedOut = true)
    assert(StreamOps.bucketPairs(4, 0.5, 1000L)((0, "k"), Iterator.empty, st3).isEmpty)
    assert(st3.isRemoved, "idle bucket state must be released")
  }

  test("streaming exact dedup (dropDuplicatesWithinWatermark) == batch dedup survivors") {
    import graft.streaming.StreamOps
    // documents table with planted duplicates: stream it and dedup by text
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val dupDir = Paths.get(tmpPath("stream_docs"))
    // write base + duplicated docs (same text, higher ids) as the stream input
    docs.select(col("doc_id"), col("text"), col("ts"))
      .unionByName(docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("ts")))
      .write.mode("overwrite").parquet(dupDir.toString)
    val schema = spark.read.parquet(dupDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(dupDir.toString)
    val qname = "dedup_stream_out"
    val q = StreamOps.dedupStream(stream, "text", "ts")
      .writeStream.outputMode("append").format("memory").queryName(qname)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table(qname)
    val input = spark.read.parquet(dupDir.toString)
    // one survivor per distinct text; every text represented
    assert(got.count() == input.select("text").distinct().count())
    assert(got.select("text").distinct().count() == got.count())
    assert(got.select(md5(to_binary(col("text"), lit("utf-8")))).distinct().count() == got.count())
  }

  test("partition-granular resume: only missing cell prefixes are rebuilt") {
    import graft.functions.geofunctions._
    val base = tmpPath("ckpt_parts")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val pts = sources.DerivedTables.pages(spark, sfDir)
      .select($"page_id", $"lat", $"lng")
      .withColumn("prefix", cell_parent(cell_encode($"lat", $"lng", 8), 2))
    val allPrefixes = pts.select($"prefix").distinct().as[Long].collect().toSeq.sorted
    assert(allPrefixes.size >= 4)
    var buildCalls = Seq.empty[Seq[Long]]
    def build(missing: Seq[Long]) = {
      buildCalls :+= missing
      pts.where($"prefix".isin(missing.map(Long.box): _*))
    }
    // first run: everything missing
    val (firstHalf, rest) = allPrefixes.splitAt(2)
    graft.operators.Checkpoint.stageByPartition(spark, base, "geo", "prefix", firstHalf)(build)
    assert(buildCalls == Seq(firstHalf))
    // second run over ALL prefixes: only the remainder is built
    val out = graft.operators.Checkpoint.stageByPartition(spark, base, "geo", "prefix", allPrefixes)(build)
    assert(buildCalls == Seq(firstHalf, rest))
    assert(out.count() == pts.count())
    // third run: nothing missing, build not called again
    graft.operators.Checkpoint.stageByPartition(spark, base, "geo", "prefix", allPrefixes)(build)
    assert(buildCalls.size == 2)
    // manifest carries per-partition row counts that sum to the total
    val manifest = Files.readString(Paths.get(base, "geo", "_PARTS.json"))
    val total = manifest.split("\n").map(_.split(",")(1).toLong).sum
    assert(total == pts.count())
  }

  test("crash-resume does not duplicate rows (orphan partition data is overwritten)") {
    // ADVICE regression: simulate a crash AFTER the parquet write of a
    // partition but BEFORE its manifest entry landed — the orphan data
    // must be replaced on resume (dynamic partition overwrite), not
    // appended to.
    import graft.functions.geofunctions._
    val base = tmpPath("ckpt_crash")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val pts = sources.DerivedTables.pages(spark, sfDir)
      .select($"page_id", $"lat", $"lng")
      .withColumn("prefix", cell_parent(cell_encode($"lat", $"lng", 8), 2))
    val allPrefixes = pts.select($"prefix").distinct().as[Long].collect().toSeq.sorted
    def build(missing: Seq[Long]) =
      pts.where($"prefix".isin(missing.map(Long.box): _*))
    // full run, then forge the crash: remove one prefix from the manifest
    graft.operators.Checkpoint.stageByPartition(spark, base, "geo", "prefix", allPrefixes)(build)
    val partsFile = Paths.get(base, "geo", "_PARTS.json")
    val victim = allPrefixes.last
    val truncated = Files.readString(partsFile).split("\n")
      .filterNot(_.startsWith(s"$victim,")).mkString("\n")
    Files.writeString(partsFile, truncated)
    // resume: the victim partition's data is already on disk (the "crash"
    // happened after its write) — the rebuild must not double it
    val out = graft.operators.Checkpoint.stageByPartition(spark, base, "geo", "prefix", allPrefixes)(build)
    assert(out.count() == pts.count(), "crash-resume duplicated rows")
    assert(out.where($"prefix" === victim).count() ==
      pts.where($"prefix" === victim).count())
  }

  test("sessionize timeout closes the idle user's open session and clears state") {
    // ADVICE regression: the hasTimedOut path must emit the open session
    // and release its state (unbounded-state fix).
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.{Event, SessionOut, SessionState}
    import org.apache.spark.sql.streaming.TestGroupState
    val open = SessionState(sessionId = 2L, lastUs = 999L, nEvents = 4L, cents = 700L)
    val timedOut = TestGroupState.create[SessionState](
      optionalState = org.apache.spark.api.java.Optional.of(open),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 10000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = StreamOps.sessionizeGroup(7L, Iterator.empty, timedOut).toSeq
    assert(out == Seq(SessionOut(7L, 2L, 4L, 700L)))
    assert(timedOut.isRemoved, "state must be cleared on timeout")
    // and a normal (non-timeout) call re-arms the timeout
    val fresh = TestGroupState.create[SessionState](
      optionalState = org.apache.spark.api.java.Optional.empty[SessionState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 10000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out2 = StreamOps.sessionizeGroup(7L,
      Iterator(Event(1L, 7L, 1000L, 1.0)), fresh).toSeq
    assert(out2.isEmpty && fresh.exists)
    assert(fresh.getTimeoutTimestampMs.isPresent, "timeout must be re-armed")
    // batch-parity cents rounding: negative exact-half values round away
    // from zero (Spark round()), not toward +inf (math.round)
    assert(fresh.get.cents == 100L)
    val neg = TestGroupState.create[SessionState](
      optionalState = org.apache.spark.api.java.Optional.empty[SessionState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 10000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    StreamOps.sessionizeGroup(7L, Iterator(Event(1L, 7L, 1000L, -0.125)), neg)
    assert(neg.get.cents == -13L, s"round(-12.5) away from zero, got ${neg.get.cents}")
  }

  test("checkpoint stage: second run skips recompute (manifest-gated resume)") {
    val base = tmpPath("ckpt_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    var builds = 0
    def build = {
      builds += 1
      spark.read.parquet(s"$sfDir/nation.parquet").select($"n_nationkey", $"n_name")
    }
    val a = graft.operators.Checkpoint.stage(spark, base, "stage1")(build)
    assert(builds == 1 && a.count() == 25)
    assert(graft.operators.Checkpoint.isComplete(base, "stage1"))
    val b = graft.operators.Checkpoint.stage(spark, base, "stage1")(build)
    assert(builds == 1, "resume must not re-run the stage") // skipped
    assert(b.count() == 25)
    // manifest carries per-partition lineage metrics
    val manifest = Files.readString(Paths.get(base, "stage1", "_MANIFEST.json"))
    assert(manifest.contains("\"complete\":true") && manifest.contains("\"partitions\""))
    assert(manifest.contains("\"rows\""))
  }

  test("checkpoint stage: an ALL-EMPTY stage completes and resumes (schema sidecar)") {
    // a zero-row write emits no data files; without the schema sidecar the
    // read-back throws UNABLE_TO_INFER_SCHEMA and the stage wedges forever
    val base = tmpPath("ckpt_empty_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    def build = spark.read.parquet(s"$sfDir/nation.parquet")
      .select($"n_nationkey", $"n_name").where(lit(false))
    val a = graft.operators.Checkpoint.stage(spark, base, "empty1")(build)
    assert(a.count() == 0 && a.columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(graft.operators.Checkpoint.isComplete(base, "empty1"))
    val b = graft.operators.Checkpoint.stage(spark, base, "empty1") {
      fail("resume must not rebuild"): org.apache.spark.sql.DataFrame
    }
    assert(b.count() == 0 && b.columns.toSeq == Seq("n_nationkey", "n_name"))
    // partition-granular variant: all-missing build yields zero rows
    val c = graft.operators.Checkpoint.stageByPartition(
      spark, base, "empty2", "pfx", Seq(1L, 2L)) { _ =>
      spark.range(0).select($"id".as("v"), ($"id" % 2).as("pfx"))
    }
    assert(c.count() == 0 && c.columns.toSet == Set("v", "pfx"))
  }

  test("streaming heavy hitters: superset guarantee holds at every trigger") {
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val stream0 = rnd.shuffle(Seq.fill(600)("alpha") ++ Seq.fill(400)("beta") ++
      Seq.fill(1000)("rare" + rnd.nextInt(900)))
    val (first, second) = stream0.splitAt(stream0.size / 2)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val out = s"hh_out_${System.nanoTime()}"
    val q = StreamOps.heavyHittersStream(mem.toDF().toDF("term"),
        "term", k = 32, shards = 4)
      .writeStream.outputMode("update").format("memory").queryName(out)
      .trigger(Trigger.AvailableNow())
    mem.addData(first: _*)
    val q1 = q.start(); q1.awaitTermination(120000); q1.stop()
    mem.addData(second: _*)
    val q2 = q.start(); q2.awaitTermination(120000); q2.stop()
    // last emitted snapshot per (shard, term) = the converged summary
    val snap = spark.table(out).select($"shard", $"term", $"mg_count")
      .as[(Long, String, Long)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.last._3).toMap
    val truth = stream0.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // superset: every term with freq >= N/denom (denom <= k) survives
    val n = stream0.size.toLong
    val heavy = truth.filter { case (_, c) => c * 32 >= n }.keySet
    val candidates = snap.keySet.map(_._2)
    assert(heavy.subsetOf(candidates), s"missing: ${heavy -- candidates}")
    assert(heavy.contains("alpha") && heavy.contains("beta"))
    // undercount bound + k-bounded state per shard
    snap.foreach { case ((_, t), c) => assert(c <= truth(t), t) }
    val perShard = snap.keySet.groupBy(_._1).view.mapValues(_.size)
    perShard.foreach { case (s, sz) => assert(sz <= 32, s"shard $s size $sz") }
  }

  test("streaming decontamination converges to batch flagOverlap") {
    import graft.streaming.StreamOps
    import graft.operators.CorpusOps
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".as[Long], $"text".as[String]).collect().toSeq
    // eval set = every 25th doc's text (planted overlap, as in the batch
    // spec); train = all docs, arriving across TWO triggers
    val eval = docs.filter(_._1 % 25 == 0).toDF("doc_id", "text")
    val (first, second) = docs.splitAt(docs.size / 2)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // all rows share one in-watermark event time: arrival order must not
    // change the converged per-doc counts
    val stream = mem.toDF().toDF("doc_id", "text")
      .withColumn("ts", lit("2025-01-01 00:00:00"))
    val out = s"decon_out_${System.nanoTime()}"
    val q = StreamOps.decontaminateStream(stream, eval, "text", "doc_id", "ts", n = 4)
      .writeStream.outputMode("complete").format("memory").queryName(out)
      .trigger(Trigger.AvailableNow())
    mem.addData(first: _*)
    val q1 = q.start(); q1.awaitTermination(120000); q1.stop()
    mem.addData(second: _*)
    val q2 = q.start(); q2.awaitTermination(120000); q2.stop()
    val got = spark.table(out).select($"doc_id", $"n_shared")
      .as[(Long, Long)].collect().toSet
    val exp = CorpusOps.flagOverlap(
        spark.read.parquet(s"$sfDir/documents.parquet"), eval, "text", "doc_id", n = 4)
      .as[(Long, Long)].collect().toSet
    assert(got == exp)
    assert(exp.nonEmpty)
  }
}
