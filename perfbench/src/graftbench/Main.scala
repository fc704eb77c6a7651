package graftbench

import java.lang.management.ManagementFactory

import scala.util.Random

import graft.functions.GeoFunctions
import org.apache.spark.sql.SparkSession

object Stats {
  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One query of one pass; `fingerprint` is set on the check pass. */
final case class Sample(query: Query, buildS: Double, execS: Double,
    error: Option[String], steps: Steps, fingerprint: Option[Fingerprint],
    querySpan: Int, buildSpan: Int, execSpan: Int)

final case class PassRec(index: Int, wallS: Double, loadavg: Double,
    samples: Seq[Sample], span: Int)

/** Runs one workload: set-up, warm-up, timed passes, an optional traced
  * run, then the output check. Writes everything to `--out` as JSON; the
  * Python wrapper adds the DuckDB side of the check and prints the result.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE
  */
object Main {

  def loadavg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val out = new Bench(spark, workload, seed, seconds, trace, work, cores, startMs).run()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), out)
    } finally spark.stop()
  }
}

final class Bench(spark: SparkSession, workloadName: String, seed: Long,
    seconds: Double, trace: Boolean, work: String, cores: Int, startMs: Double) {

  private val sc = spark.sparkContext
  private val dataDir = s"$work/data"
  private val indexDir = s"$work/index-data"

  private def now: Double = System.nanoTime() / 1e9

  /** One pass: every query of `qs`, built then executed, in a seeded order.
    * A `check` pass executes each query into its output fingerprint
    * instead of the `noop` sink. */
  private def runPass(p: Int, qs: Seq[Query], spans: Option[Spans],
      walkIndex: Boolean, check: Boolean = false): PassRec = {
    val load = Main.loadavg1()
    val passSpan = spans.map(_.open(-1, s"pass $p")).getOrElse(-1)
    val t0 = now
    val samples = new Random(seed * 7919 + p).shuffle(qs).map { q =>
      val steps = new Steps(walkIndex)
      val qSpan = spans.map(_.open(passSpan, q.name)).getOrElse(-1)
      var bSpan, eSpan = -1
      var fp: Option[Fingerprint] = None
      val tb = now
      var te, tx = tb
      val error = try {
        sc.setJobGroup(s"p$p/${q.name}/build", q.name, false)
        bSpan = spans.map(_.open(qSpan, "build")).getOrElse(-1)
        val df = q.build(steps)
        spans.foreach(_.close(bSpan))
        te = now
        sc.setJobGroup(s"p$p/${q.name}/execute", q.name, false)
        eSpan = spans.map(_.open(qSpan, "execute")).getOrElse(-1)
        if (check) fp = Some(Fingerprint(df))
        else df.write.format("noop").mode("overwrite").save()
        spans.foreach(_.close(eSpan))
        tx = now
        None
      } catch { case e: Throwable =>
        System.err.println(s"[graftbench] pass $p ${q.name} failed: $e")
        tx = now
        Some(String.valueOf(e.getMessage))
      } finally sc.clearJobGroup()
      spans.foreach(_.close(qSpan))
      Sample(q, te - tb, tx - te, error, steps, fp, qSpan, bSpan, eSpan)
    }
    val wall = now - t0
    spans.foreach(_.close(passSpan))
    PassRec(p, wall, load, samples, passSpan)
  }

  /** Peak JVM heap in use after garbage collection since the last `take`:
    * the largest live heap a collection left behind. A raw used-heap
    * reading mostly measures how full the young generation happened to be. */
  private final class HeapPeak {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    beans.foreach(_.addNotificationListener(listener, null, null))

    /** The peak since the last call (the heap in use now if no collection
      * ran), and starts a new one. */
    def take(): Long = synchronized {
      val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      peak = 0L
      p
    }

    def close(): Unit = beans.foreach(_.removeNotificationListener(listener))
  }

  def run(): String = {
    def since(t: Double) = f"${now - t}%.1f s"
    val t0 = now
    System.err.println(
      f"[graftbench] session up ${System.currentTimeMillis() / 1e3 - startMs / 1e3}%.1f s after JVM start")
    val wl = Workloads(workloadName, spark, dataDir, work)
    val sizes = Workloads.sizes(workloadName)
    Inputs.write(spark, dataDir, seed, sizes, wl.tables)
    GeoFunctions.register(spark)
    if (wl.tables("geoms")) spark.read.parquet(s"$dataDir/geoms.parquet")
      .createOrReplaceTempView("geoms")
    System.err.println(s"[graftbench] inputs ${since(t0)}")

    // warm-up: plans, codegen and JIT, counted in set-up. It doubles as the
    // output check, outside the timed passes: every query's output is
    // fingerprinted here, and the wrapper compares it with the oracle's.
    val t1 = now
    val warm = runPass(0, wl.queries, None, walkIndex = false, check = true) +:
      (1 to wl.warmPasses).map(p => runPass(p, wl.queries, None, walkIndex = false))
    val setupS = System.currentTimeMillis() / 1e3 - startMs / 1e3
    System.err.println(s"[graftbench] check and warm-up passes ${since(t1)}")

    // The pass count depends on --seconds only, never on how fast this run
    // happens to go: passes still speed up as the JIT settles, and a
    // run-dependent count would move the median with it.
    val n = math.max(1, math.ceil(seconds / wl.passSeconds - 1e-9).toInt)
    val first = wl.warmPasses + 1
    val heap = new HeapPeak
    val heapPeaks = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracer = if (trace) Some(new Tracer(sc)) else None
    val spans = new Spans
    val timed, tracedPasses = scala.collection.mutable.ArrayBuffer.empty[PassRec]
    // A traced run splits the count and alternates untraced and traced
    // passes, so both sit at the same point of the warm-up and their ratio
    // is the cost of tracing.
    for (i <- 0 until (if (trace) math.max(1, n / 2) else n)) {
      heap.take()
      timed += runPass(first + 2 * i, wl.queries, None, walkIndex = false)
      heapPeaks += heap.take() / (1024.0 * 1024.0)
      tracer.foreach { t =>
        t.install(spark)
        try tracedPasses += runPass(first + 2 * i + 1, wl.queries, Some(spans), walkIndex = false)
        finally t.remove(spark)
      }
    }
    heap.close()
    val e2e = endToEnd(timed.toSeq, setupS, Stats.median(heapPeaks.toSeq))

    val indexPass = tracer.map { _ =>
      Inputs.write(spark, indexDir, seed, Workloads.indexSizes, Set("documents"))
      runPass(first + 2 * n, Workloads.indexLifecycles(spark, indexDir, work), None,
        walkIndex = true, check = true)
    }
    val layer = tracer.map { t =>
      val sparkMetrics = sparkLayers(tracedPasses.toSeq, t, spans)
      writeArtifact(tracedPasses.toSeq, spans)
      sparkMetrics ++
        Layers.measure(seed).toSeq.sorted.map { case (k, v) =>
          (k, if (k.endsWith("pairs_s")) "pairs/s" else "rows/s", v) } ++
        indexLayers(indexPass.get) :+ (("trace_overhead_ratio", "1",
          Stats.median(tracedPasses.map(_.wallS).toSeq) / Stats.median(timed.map(_.wallS).toSeq)))
    }.getOrElse(Seq.empty)

    val checks = (warm.head.samples.map(_ -> dataDir) ++
        indexPass.toSeq.flatMap(_.samples).map(_ -> indexDir)).map { case (s, data) =>
      Json.obj(Seq("name" -> Json.str(s.query.name), "oracle" -> Json.str(s.query.oracle),
          "data" -> Json.str(data)) ++
        (s.fingerprint match {
          case Some(f) => Seq("columns" -> Json.arr(f.columns.map(Json.str)),
            "count" -> f.count.toString, "sum" -> f.sum.toString, "xor" -> f.xor.toString)
          case None => Seq("error" -> Json.str(s.error.getOrElse("no output")))
        }))
    }
    // the check pass and the index pass are counted by their checks
    val ran = (warm.tail ++ timed ++ tracedPasses).flatMap(_.samples)
    val attempted = ran.size
    val failed = ran.count(_.error.nonEmpty)
    Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "sizes" -> Json.obj(Seq("geoms" -> sizes.geoms.toString,
        "lineitem" -> sizes.lineitem.toString, "documents" -> sizes.documents.toString,
        "embeddings" -> sizes.embeddings.toString)),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "end_to_end" -> Json.metrics(e2e),
      "per_layer" -> Json.metrics(layer),
      "passes" -> Json.arr(timed.toSeq.map(passJson)),
      "checks" -> Json.arr(checks)))
  }

  private def passJson(p: PassRec): String = Json.obj(Seq(
    "pass" -> p.index.toString, "wall_s" -> Json.num(p.wallS),
    "loadavg1" -> Json.num(p.loadavg),
    "queries" -> Json.arr(p.samples.map(s => Json.obj(Seq(
      "name" -> Json.str(s.query.name), "build_s" -> Json.num(s.buildS),
      "exec_s" -> Json.num(s.execS), "ok" -> s.error.isEmpty.toString))))))

  private def endToEnd(passes: Seq[PassRec], setupS: Double,
      peakHeapMb: Double): Seq[(String, String, Double)] = {
    import Stats._
    val passS = median(passes.map(_.wallS))
    val perQuery = passes.flatMap(_.samples.map(s => s.buildS + s.execS))
    val rows = passes.head.samples.map(_.query.inputRows).sum
    Seq(
      ("setup_s", "s", setupS),
      ("pass_s", "s", passS),
      ("build_s", "s", median(passes.map(_.samples.map(_.buildS).sum))),
      ("exec_s", "s", median(passes.map(_.samples.map(_.execS).sum))),
      ("query_s_p50", "s", quantile(perQuery, 0.5)),
      ("query_s_p90", "s", quantile(perQuery, 0.9)),
      ("rows_per_s", "rows/s", rows / passS),
      ("peak_heap_mb", "MB", peakHeapMb))
  }

  // ---- traced run -------------------------------------------------------

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total - lo
  }

  private def sparkLayers(passes: Seq[PassRec], tracer: Tracer,
      spans: Spans): Seq[(String, String, Double)] = {
    import scala.jdk.CollectionConverters._
    val jobs = tracer.jobs.values.asScala.toSeq
    val byGroup = jobs.groupBy(_.group)
    // link job spans to their build/execute spans through the job group
    for (p <- passes; s <- p.samples; (phase, parent) <- Seq(("build", s.buildSpan),
        ("execute", s.execSpan)) if parent >= 0;
        j <- byGroup.getOrElse(s"p${p.index}/${s.query.name}/$phase", Nil))
      spans.add(parent, s"job ${j.id}: ${j.stages} stages, ${j.tasks} tasks" +
        (if (j.succeeded) "" else ", failed"), j.start.toDouble, j.end.toDouble)
    def interval(j: JobRec) = (j.start.toDouble, j.end.toDouble)

    val perPass = passes.map { p =>
      val pj = jobs.filter(_.group.startsWith(s"p${p.index}/"))
      val sp = spans.spans
      val ex = tracer.execsIn(math.floor(sp(p.span).start), math.ceil(sp(p.span).end))
      val buildJobs = pj.filter(_.group.endsWith("/build"))
      val execJobs = pj.filter(_.group.endsWith("/execute"))
      def spanLen(i: Int) = if (i < 0) 0.0 else sp(i).end - sp(i).start
      var buildSelf, gap, execWall = 0.0
      for (s <- p.samples) {
        val g = s"p${p.index}/${s.query.name}/"
        val mine = pj.filter(_.group.startsWith(g)).map(interval)
        if (s.buildSpan >= 0) buildSelf += spanLen(s.buildSpan) - covered(
          mine, sp(s.buildSpan).start, sp(s.buildSpan).end)
        if (s.querySpan >= 0) gap += spanLen(s.querySpan) - covered(
          mine, sp(s.querySpan).start, sp(s.querySpan).end)
        execWall += spanLen(s.execSpan)
      }
      Map(
        "entry.build_jobs" -> buildJobs.size.toDouble,
        "entry.build_ms" -> buildSelf,
        "plan.analysis_ms" -> ex.map(_.analysisMs).sum,
        "plan.optimizer_ms" -> ex.map(_.optimizerMs).sum,
        "plan.physical_ms" -> ex.map(_.physicalMs).sum,
        "spark.jobs" -> pj.size.toDouble,
        "spark.stages" -> pj.map(_.stages).sum.toDouble,
        "spark.tasks" -> pj.map(_.tasks).sum.toDouble,
        "spark.failed_tasks" -> pj.map(_.failedTasks).sum.toDouble,
        "spark.driver_gap_ms" -> gap,
        "spark.core_busy_ratio" ->
          (if (execWall > 0) execJobs.map(_.runMs).sum / (execWall * cores) else 0.0),
        "spark.shuffle_write_bytes" -> pj.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> pj.map(_.shuffleRead).sum.toDouble,
        "spark.spill_bytes" -> pj.map(_.spill).sum.toDouble,
        "spark.broadcast_bytes" -> ex.map(_.broadcastBytes).sum.toDouble,
        "spark.run_ms" -> pj.map(_.runMs).sum.toDouble,
        "spark.cpu_ms" -> pj.map(_.cpuNs).sum / 1e6,
        "spark.gc_ms" -> pj.map(_.gcMs).sum.toDouble,
        "spark.peak_exec_mem_bytes" -> (0L +: pj.map(_.peakExecMem)).max.toDouble)
    }
    val units = Map("entry.build_jobs" -> "count", "spark.jobs" -> "count",
      "spark.stages" -> "count", "spark.tasks" -> "count", "spark.failed_tasks" -> "count",
      "spark.core_busy_ratio" -> "1")
    perPass.head.keys.toSeq.sorted.map { k =>
      val unit = units.getOrElse(k, if (k.endsWith("_ms")) "ms" else "bytes")
      (k, unit, Stats.median(perPass.map(_(k))))
    }
  }

  private def indexLayers(pass: PassRec): Seq[(String, String, Double)] = {
    val samples = pass.samples.sortBy(_.query.name)
    val rows = samples.flatMap { s =>
      val family = s.query.name.stripPrefix("index_")
      def step(n: String) = s.steps.times.filter(_._1 == n).map(_._2).sum
      val stats = s.steps.index.get
      Seq(
        (s"index.$family.write_s", "s", step("write")),
        (s"index.$family.append_s", "s", step("append")),
        (s"index.$family.compact_s", "s", step("compact")),
        (s"index.$family.probe_s", "s", step("probe") + s.execS),
        (s"index.$family.bytes_per_input_byte", "1", stats.bytes.toDouble / stats.inputBytes),
        (s"index.$family.files", "count", stats.fileCount.toDouble))
    }
    val stats = samples.map(_.steps.index.get)
    rows :+ (("index.write_amp", "1", stats.map(_.written).sum.toDouble /
      stats.map(_.inputBytes).sum))
  }

  /** The span tree and per-query timings of the traced passes, as one JSON
    * file next to the result. */
  private def writeArtifact(passes: Seq[PassRec], spans: Spans): Unit = {
    val perQuery = passes.flatMap(_.samples).groupBy(_.query.name).toSeq.sortBy(_._1).map {
      case (n, ss) => Json.obj(Seq("name" -> Json.str(n),
        "build_s" -> Json.num(Stats.median(ss.map(_.buildS))),
        "exec_s" -> Json.num(Stats.median(ss.map(_.execS))),
        "samples" -> ss.size.toString))
    }
    val sp = spans.spans.map(s => Json.obj(Seq("id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/trace.json"),
      Json.obj(Seq("workload" -> Json.str(workloadName), "seed" -> seed.toString,
        "passes" -> Json.arr(passes.map(passJson)),
        "queries" -> Json.arr(perQuery), "spans" -> Json.arr(sp.toSeq))))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def metrics(ms: Seq[(String, String, Double)]): String =
    obj(ms.map { case (n, u, v) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
