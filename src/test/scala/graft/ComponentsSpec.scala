package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField}
import graft.operators.{Components, Dedup}

/** Connected components (large-star / small-star) vs a plain union-find
  * oracle on seeded random graphs, plus the diameter stress a naive
  * min-label propagation would fail. */
class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  /** Union-find reference. */
  private def ufComponents(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (0L until n).foreach(i => parent.getOrElseUpdate(i, i))
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Jobs `body` submits, counted by a listener. A tagged one-task job
    * before and after fences the asynchronous listener bus: once the
    * closing job's start is seen, every earlier start has been seen. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val fences = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some(tag) if tag != null && tag.startsWith("fence-") => fences.put(tag)
          case _ => jobs.incrementAndGet()
        }
    }
    def fence(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fences.poll(60, TimeUnit.SECONDS) == tag)
    }
    sc.addSparkListener(listener)
    try {
      fence("fence-open")
      jobs.set(0)
      body
      fence("fence-close")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("matches union-find on seeded random graphs") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 120L
      val edges = (0 until 150).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
        .filter { case (a, b) => a != b }
      val expected = ufComponents(n, edges)
      val got = run(edges)
      // engine labels only ids touched by edges; restrict oracle to those
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      assert(got == expected.filter { case (k, _) => touched(k) },
        s"seed $seed mismatch")
    }
  }

  test("long chain collapses to one component (diameter stress)") {
    // a 400-node path: naive min-label propagation needs 400 rounds;
    // large-star/small-star must finish within the default maxRounds
    val edges = (0L until 399L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.size == 400 && got.values.forall(_ == 0L))
  }

  test("each round is one job: the 400-node chain submits rounds + a constant") {
    // the chain needs ~10 rounds, so maxRounds <= 4 stops every call by
    // its round budget
    val chain = (0L until 399L).map(i => (i, i + 1)).toDF("a", "b")
    def jobs(maxRounds: Int): Int =
      jobsOf(Components.connectedComponents(chain, "a", "b", maxRounds = maxRounds)
        .collect())
    val Seq(one, two, three, four) = Seq(1, 2, 3, 4).map(jobs)
    assert(Seq(two - one, three - two, four - three) == Seq(1, 1, 1),
      s"jobs for 1..4 rounds: $one, $two, $three, $four")
    // the input edges' signature, round one, and the collect
    assert(one <= 3, s"one round submitted $one jobs")
  }

  test("labelNodes with an empty edge list makes every node a singleton") {
    val nodes = (0L until 6L).toDF("id")
    val empty = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    val got = Components.labelNodes(nodes, "id", empty, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 6L).map(i => i -> i).toMap)
  }

  test("result columns keep their names and types") {
    val edges = Seq((1L, 2L), (2L, 4L)).toDF("a", "b")
    def fields(df: DataFrame): Seq[StructField] = df.schema.fields.toSeq
    val cc = Components.connectedComponents(edges, "a", "b")
    val labels = Components.labelNodes(Seq(1L, 3L).toDF("doc_id"), "doc_id", edges, "a", "b")
    // as the DataFrame rounds returned them, nullability included
    assert(fields(cc) ==
      Seq(StructField("id", LongType, true), StructField("component", LongType, true)))
    assert(fields(labels) ==
      Seq(StructField("doc_id", LongType, false), StructField("component", LongType, false)))
  }

  test("labelNodes assigns singleton components to isolated ids") {
    val nodes = (0L until 10L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val got = Components.labelNodes(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("reliable-checkpoint path yields identical labels") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val rnd = new scala.util.Random(9)
      val edges = (0 until 80).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      val plain = run(edges)
      val ckpt = Components.connectedComponents(edges.toDF("a", "b"), "a", "b",
          reliableEvery = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(plain == ckpt)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("empty edge list yields empty labels") {
    val empty = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(empty, "a", "b").count() == 0)
  }

  test("end-to-end: minhash pairs cluster the planted dup families") {
    // two families of 4 near-identical docs + 2 unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta kappa"),
      (4L, "alpha beta gamma delta epsilon zeta eta lambda"),
      (10L, "one two three four five six seven eight nine"),
      (11L, "one two three four five six seven eight ten"),
      (12L, "one two three four five six seven eight eleven"),
      (13L, "one two three four five six seven eight twelve"),
      (20L, "totally unrelated content nothing shared here at all"),
      (21L, "another disjoint document with its own words entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.3)
    val labels = Components.labelNodes(docs, "doc_id", pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(labels).distinct == Seq(1L))
    assert(Seq(10L, 11L, 12L, 13L).map(labels).distinct == Seq(10L))
    assert(labels(20L) == 20L && labels(21L) == 21L)
    assert(labels(1L) != labels(10L))
  }
}
