package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

import graft.geo.{Cell, Wkb}

/** The benchmark program. One process runs one workload closed-loop: a
  * single driver thread submits one Spark job at a time to local[cores].
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <cores> <resultJson>
  *
  * The result file holds the metrics, the output checks and the record of
  * the input's shape; `run.py` turns it into the benchmark's output line. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, cores: Int, out: String)

  /** Metrics of the run: name -> (value, unit). */
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val info = mutable.LinkedHashMap[String, Any]()
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  private var attempted = 0L
  private var failed = 0L

  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def recordInfo(k: String, v: Any): Unit = info(k) = v

  /** Set-up seconds from the repeated input writes (their median) and the
    * warm-up; both are recorded. */
  def recordSetup(gens: Seq[Double], warm: Double): Double = {
    info("input_write_s") = gens.map(g => f"$g%.2f").mkString(",")
    info("warmup_s") = warm
    median(gens) + warm
  }

  /** Drops every cached table and persisted RDD. */
  def freeAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val c = Conf(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), args(5), args(6).toInt, args(7))
    val alu0 = Host.aluMs(c.cores)
    val t0 = System.nanoTime()
    val spark = session(c.cores, c.work, aqe = c.workload != "flagship")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w: Workload = c.workload match {
      case "flagship" => new Flagship(spark, c)
      case "spatial_dense" => new SpatialDense(spark, c)
      case "curation" => new Curation(spark, c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val phases = mutable.ArrayBuffer[String]()
    def phase(name: String): Unit = phases += f"$name=${(System.nanoTime() - t0) / 1e9}%.1f"
    val setup = w.setup()
    freeAll(spark)
    phase("setup")
    info("cores") = c.cores
    info("heap_max_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
    info("seed") = c.seed
    info ++= w.shape
    phase("shape")
    put("setup_s", sessionS + setup, "s")
    info("session_s") = sessionS

    val plain = Loop.run(spark, w.ops, c.seconds, None, None)
    attempted += plain.attempted; failed += plain.failed
    put("wall_s", median(plain.passS), "s")
    put("cpu_s", median(plain.cpuS), "s")
    put("query_p50_s", median(plain.opS.map(_._2)), "s")
    put("heap_peak_mb", plain.heapPeakMb, "MB")
    info("passes") = plain.passS.size
    info("pass_s") = plain.passS.map(x => f"$x%.3f").mkString(",")
    info("pass_cpu_s") = plain.cpuS.map(x => f"$x%.2f").mkString(",")
    info("ops") = plain.opS.size
    info("ops_per_pass") = w.ops.size
    plain.opS.groupBy(_._1).foreach { case (n, ts) => info(s"op_${n}_s") = median(ts.map(_._2)) }

    phase("loop")
    w.check().foreach { case (name, ok, detail) =>
      attempted += 1; if (!ok) failed += 1
      checks += ((name, ok, detail))
    }
    freeAll(spark)
    phase("check")

    if (c.trace) {
      traced(spark, c, w, plain)
      phase("traced")
      put("failed_frac", failed.toDouble / math.max(1L, attempted), "ratio")
    }
    val alu1 = Host.aluMs(c.cores)
    info("host_alu_ms_before") = alu0
    info("host_alu_ms_after") = alu1
    if (c.trace) put("host.alu_ms", (alu0 + alu1) / 2, "ms")
    spark.stop()
    phase("stop")
    info("phases_s") = phases.mkString(",")
    writeResult(c)
  }

  /** The traced phase: the same closed loop with the listener and the
    * spans on, then the layer prefixes and the direct geo calls. */
  private def traced(spark: SparkSession, c: Conf, w: Workload, plain: Loop.Result): Unit = {
    val sc = spark.sparkContext
    val tr = new Trace(sc)
    sc.addSparkListener(tr)
    spark.listenerManager.register(tr)
    val tracer = new Tracer(sc)
    val res = tracer.span("run", "run") {
      tracer.span("workload", c.workload) {
        Loop.run(spark, w.ops, c.seconds, Some(tracer), Some(tr))
      }
    }
    attempted += res.attempted; failed += res.failed
    val passes = math.max(1, res.passS.size).toDouble
    val k = res.counters
    put("trace.overhead_s", median(res.passS) - median(plain.passS), "s")
    put("exchange.write_mb", k.shuffleWrite / 1e6 / passes, "MB")
    put("exchange.read_mb", k.shuffleRead / 1e6 / passes, "MB")
    put("exchange.spill_mb", k.spill / 1e6 / passes, "MB")
    put("executor.run_s", k.runMs / 1e3 / passes, "s")
    put("executor.cpu_s", k.cpuNs / 1e9 / passes, "s")
    put("executor.gc_s", k.gcMs / 1e3 / passes, "s")
    put("driver.plan_s", k.planMs / 1e3 / passes, "s")
    put("driver.jobs", k.jobs / passes, "count")
    put("driver.stages", k.stages / passes, "count")
    put("driver.idle_s", res.idleS / passes, "s")
    put("components.jobs", k.componentsJobs / passes, "count")
    put("components.s", k.componentsMs / 1e3 / passes, "s")
    put("cache.queries_leaking", res.leakingOps.size.toDouble, "count")
    put("cache.rdds_held", res.rddsHeld / passes, "count")
    put("cache_held_mb", res.heldMb / passes, "MB")
    val tail = Loop.tail(res.opS.map(_._2) ++ plain.opS.map(_._2))
    put("query_tail_s", tail._1, "s")
    info("query_tail_pct") = tail._2
    info("query_tail_n") = tail._3
    info("queries_leaking") = res.leakingOps.toSeq.sorted.mkString(",")
    val layers = w.layers(tracer, tr)
    layers.foreach { case (n, (v, u)) => put(n, v, u) }
    val all = tracer.spans ++ tr.spans
    Files.writeString(Paths.get(c.work, "trace.json"), Tracer.toJson(all))
    info("self_s") = Tracer.selfTimes(all).toSeq.sortBy(-_._2).take(24)
      .map { case ((kind, name), s) => s"$kind:$name=${f"$s%.3f"}" }.mkString(",")
  }

  def session(cores: Int, work: String, aqe: Boolean): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.files.maxPartitionBytes", String.valueOf(24L * 1024 * 1024))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `f` on every item, each from its own driver thread (set-up only). */
  def concurrently[A](items: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(items.size)
    try items.map(i => pool.submit(new Runnable { def run(): Unit = f(i) })).foreach(_.get())
    finally pool.shutdown()
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""

  private def jsonVal(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case o => jsonStr(o.toString)
  }

  private def writeResult(c: Conf): Unit = {
    val m = metrics.map { case (k, (v, u)) =>
      s"${jsonStr(k)}:{\"value\":${jsonVal(v)},\"unit\":${jsonStr(u)}}" }.mkString("{", ",", "}")
    val i = info.map { case (k, v) => s"${jsonStr(k)}:${jsonVal(v)}" }.mkString("{", ",", "}")
    val ch = checks.map { case (n, ok, d) =>
      s"""{"name":${jsonStr(n)},"ok":$ok,"detail":${jsonStr(d)}}""" }.mkString("[", ",", "]")
    Files.writeString(Paths.get(c.out),
      s"""{"attempted":$attempted,"failed":$failed,"metrics":$m,"info":$i,"checks":$ch}""")
  }
}

/** Fixed parallel ALU work, timed: a throttled shared host shows here. */
object Host {
  def aluMs(threads: Int): Double = {
    val iters = 40 * 1000 * 1000
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var k = 0
        while (k < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
        if (x == 42) println("")
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}

/** One operation of a workload: a named closure that runs Spark jobs. */
final case class Op(name: String, run: () => Unit)

trait Workload {
  /** Builds the inputs and warms up; returns the set-up seconds. */
  def setup(): Double
  def ops: Seq[Op]
  /** What the run records about the input's shape. */
  def shape: Map[String, Any]
  /** Output checks: (name, ok, detail). */
  def check(): Seq[(String, Boolean, String)]
  /** Per-layer metrics of the traced run. */
  def layers(tracer: Tracer, tr: Trace): Map[String, (Double, String)]
}

/** The closed loop: whole passes over the workload's operations until
  * `seconds` have passed (at least one pass). After each operation the
  * cache census is taken and every cached table and RDD is freed. */
object Loop {
  final case class Result(passS: Seq[Double], cpuS: Seq[Double], opS: Seq[(String, Double)], attempted: Long,
                          failed: Long, heapPeakMb: Double, counters: Counters, idleS: Double,
                          leakingOps: Set[String], rddsHeld: Double, heldMb: Double)

  def run(spark: SparkSession, ops: Seq[Op], seconds: Double,
          tracer: Option[Tracer], tr: Option[Trace]): Result = {
    val sc = spark.sparkContext
    val passS = mutable.ArrayBuffer[Double]()
    val cpuS = mutable.ArrayBuffer[Double]()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // the old generation's occupancy after its latest collection: read
    // without forcing a GC, which would resize the heap between passes
    val oldGen = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
    val opS = mutable.ArrayBuffer[(String, Double)]()
    var att = 0L; var fail = 0L; var heap = 0.0
    var idle = 0.0; var rdds = 0.0; var held = 0.0
    val leaking = mutable.Set[String]()
    val counters = new Counters
    tr.foreach(_.take())
    val start = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      def body(): Unit = {
        val p0 = System.nanoTime()
        val c0 = os.getProcessCpuTime
        ops.foreach { op =>
          att += 1
          val w0 = System.currentTimeMillis()
          val t = try Main.time(span(tracer, "op", op.name)(op.run()))
          catch { case NonFatal(e) => fail += 1; System.err.println(s"${op.name}: $e"); Double.NaN }
          if (!t.isNaN) opS += ((op.name, t))
          tr.foreach { x =>
            val k = x.take()
            idle += k.idleMs(w0, System.currentTimeMillis()) / 1e3
            counters.add(k)
          }
          val cached = sc.getRDDStorageInfo.filter(_.isCached)
          if (cached.nonEmpty) leaking += op.name
          rdds += cached.length
          held += cached.map(r => r.memSize + r.diskSize).sum / 1e6
          Main.freeAll(spark)
          heap = math.max(heap, oldGen.map(_.getCollectionUsage.getUsed).sum / 1e6)
        }
        passS += (System.nanoTime() - p0) / 1e9
        cpuS += (os.getProcessCpuTime - c0) / 1e9
      }
      span(tracer, "pass", s"pass-$pass")(body())
      pass += 1
    }
    Result(passS.toSeq, cpuS.toSeq, opS.toSeq, att, fail, heap, counters, idle, leaking.toSet, rdds, held)
  }

  private def span[T](tracer: Option[Tracer], kind: String, name: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(kind, name)(body)
      case None => body
    }

  /** The highest percentile with at least ten samples beyond it (the max
    * when there are ten samples or fewer): (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else { val i = n - 11; (s(i), 100.0 * (i + 1) / n, n) }
  }
}

/** Layer timings shared by the spatial workloads. */
object Layers {
  /** Fastest wall seconds of `reps` noop runs of `df`, inside a layer
    * span (the minimum, since a layer delta is a difference of two). */
  def prefix(tracer: Tracer, name: String, reps: Int)(df: => DataFrame): Double =
    tracer.span("layer", name) { Seq.fill(reps)(Main.time(Main.noop(df))).min }

  /** The scan-only prefix: its time, and its file bytes, rows and tasks
    * per run (file bytes from the scan nodes' SQL metrics). */
  def scan(tracer: Tracer, tr: Trace, reps: Int)(df: => DataFrame): Map[String, (Double, String)] = {
    tr.take(); tr.resetPlans()
    val t = prefix(tracer, "sources.scan", reps)(df)
    val k = tr.take()
    val bytes = tr.planNodes().filter(_.nodeName.startsWith("Scan"))
      .flatMap(_.metrics.get("filesSize")).map(_.value).sum
    Map("sources.scan_s" -> (t, "s"), "sources.read_mb" -> (bytes / 1e6 / reps, "MB"),
      "sources.rows" -> (k.inputRecords.toDouble / reps, "count"),
      "sources.tasks" -> (k.tasks.toDouble / reps, "count"))
  }

  /** Output rows of the joins and refine filters of the last execution. */
  def joinRows(nodes: Seq[SparkPlan]): Long =
    nodes.filter(n => n.nodeName.contains("Join"))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  def refineRows(nodes: Seq[SparkPlan]): Option[Long] = {
    val f = nodes.filter(n => n.nodeName == "Filter" &&
      n.expressions.exists(_.exists(_.getClass.getSimpleName == "RayCastContains")))
    if (f.isEmpty) None else Some(f.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }

  /** Direct single-thread calls on the workload's own points and polygons. */
  def geo(pts: Array[(Double, Double)], polys: Seq[Array[Byte]], res: Int): Map[String, (Double, String)] = {
    def ns(reps: Int)(body: => Unit): Double = {
      body // warm
      val t0 = System.nanoTime(); var i = 0
      while (i < reps) { body; i += 1 }
      (System.nanoTime() - t0).toDouble / reps
    }
    var sink = 0L
    val encNs = ns(5) { pts.foreach { case (la, lo) => sink += Cell.encode(la, lo, res) } } / pts.length
    var cells = 0L
    val coverNs = ns(3) { cells = 0; polys.foreach(g => cells += Cell.coverGeometry(g, res).length) } / polys.size
    // containment: each point against the polygons whose envelope holds it
    val envs = polys.map(g => (g, Wkb.envelope(g)))
    val pairs = pts.take(20000).flatMap { case (la, lo) =>
      envs.collect { case (g, (x0, y0, x1, y1)) if lo >= x0 && lo <= x1 && la >= y0 && la <= y1 => (g, lo, la) }
    }.take(50000)
    val containsNs = if (pairs.isEmpty) 0.0
      else ns(3) { pairs.foreach { case (g, x, y) => if (Wkb.containsPoint(g, x, y)) sink += 1 } } / pairs.length
    val kc = pts.take(20000).map { case (la, lo) => Cell.encode(la, lo, res) }
    val kringNs = ns(3) { kc.foreach(c => sink += Cell.kRing(c, 1).length) } / kc.length
    if (sink == 42) println("")
    Map("geo.encode_ns" -> (encNs, "ns"), "geo.cover_us_per_poly" -> (coverNs / 1e3, "us"),
      "geo.cover_cells_per_poly" -> (cells.toDouble / polys.size, "count"),
      "geo.contains_ns" -> (containsNs, "ns"), "geo.kring_ns" -> (kringNs, "ns"))
  }

  def samplePoints(df: DataFrame, n: Int): Array[(Double, Double)] =
    df.select("lat", "lng").limit(n).collect().map(r => (r.getDouble(0), r.getDouble(1)))
}
