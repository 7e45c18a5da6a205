package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The medallion-flow benchmark: one closed-loop client driving graft's
  * public API in this process.
  *
  * {{{
  * Main --workload <cdc_trickle|cdc_bulk|star_reads|curation> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * Main --selftest --work <dir>
  * }}}
  *
  * Prints a report, then one JSON line: `correct`, `attempted`, `failed`
  * and the metrics (end-to-end ones untraced, per-layer ones traced).
  */
object Main {
  final case class Metric(name: String, value: Double, unit: String, note: String = "")

  /** Workload sizes. `cdc_bulk` batches touch every bucket; `cdc_trickle`
    * batches touch two or three keys per table of 16 buckets, and a gold
    * table compacts once it references more than 8 snapshot roots.
    */
  val Feed = Gen.FeedSize(baseCustomers = 2000, baseParts = 2000, baseOrders = 6000,
    dimRowsPerBatch = 5, factRowsPerBatch = 5)
  val BulkFeed = Feed.copy(dimRowsPerBatch = 1000, factRowsPerBatch = 3000)
  val Buckets = 16
  val TrickleCompactAfterRoots = 8
  val StarPrefix = 3
  val Corpus = Gen.CorpusSize(documents = 500, embeddings = 1000, orders = 2000, parts = 300)
  val Names = Seq("cdc_trickle", "cdc_bulk", "star_reads", "curation")
  /** `local[n]` over every core of the machine. */
  val cores: Int = Runtime.getRuntime.availableProcessors

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val spark = session(work)
    try {
      if (opts.contains("selftest")) sys.exit(SelfTest.run(spark, work))
      val name = opts("workload")
      require(Names.contains(name), s"unknown workload $name; one of ${Names.mkString(", ")}")
      val code = run(spark, name, opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", work)
      spark.stop()
      sys.exit(code)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(3)
    }
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(spark: SparkSession, name: String, seed: Long, work: String,
               tracer: Tracer): Workload = name match {
    case "cdc_trickle" =>
      new CdcWorkload(spark, work, seed, tracer, Feed, Buckets, TrickleCompactAfterRoots)
    case "cdc_bulk" =>
      new CdcWorkload(spark, work, seed, tracer, BulkFeed, Buckets, Int.MaxValue)
    case "star_reads" =>
      new StarReadsWorkload(spark, work, seed, tracer, Feed, Buckets, StarPrefix)
    case "curation" =>
      new CurationWorkload(spark, work, seed, tracer, Corpus)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Full collections a quarter second apart until the old generation
    * stops shrinking (at most five): the pauses let Spark's context
    * cleaner release what only weak references still held.
    */
  private def liveHeapGc(): Unit = {
    var last = Double.MaxValue
    var k = 0
    System.gc()
    while (k < 5 && oldGenLiveMb() < last - 0.5) {
      last = oldGenLiveMb()
      Thread.sleep(250)
      System.gc()
      k += 1
    }
  }

  /** Old-generation occupancy after the last collection, in MB. */
  private def oldGenLiveMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Run one workload for `seconds`; print the report and the JSON line.
    * Returns the exit code.
    */
  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
          work: String): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark.sparkContext, trace, s"$name-$seed")
    tracer.active = false
    val w = workload(spark, name, seed, work, tracer)
    w.generate()
    val t0 = System.nanoTime()
    w.setUp()
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    w.beforeWindow()

    // the timed window: one operation after another until time is up
    val lat = collection.mutable.ArrayBuffer.empty[Double]
    val outs = collection.mutable.ArrayBuffer.empty[OpOut]
    var gcS = 0.0 // driver GC time inside the operations
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // traced runs alternate untraced (A) and traced (B) units of the mix
    // in ABBA blocks, so the tracing overhead is measured on the same mix
    // under the same conditions and a warm-up drift cancels out
    val block = if (trace) 4 * w.traceUnit else w.passSize
    def traced(i: Int) = trace && Set(1, 2).contains((i / w.traceUnit) % 4)
    // the highest live old generation over the window: after every
    // operation, outside its timing, a full collection and the old
    // generation's occupancy after it
    var heapMb = 0.0
    var i = 0
    while (i == 0 || System.nanoTime() < deadline || i % block != 0) {
      w.prepare(i)
      tracer.active = traced(i)
      tracer.op = i
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val out =
        try tracer.span("bench", s"op $i")(w.op(i))
        catch { case e: Exception => e.printStackTrace(); OpOut(0, ok = false) }
      val dt = (System.nanoTime() - t0) / 1e9
      gcS += gcSeconds() - gc0
      tracer.active = false
      lat += dt
      outs += out
      liveHeapGc()
      heapMb = math.max(heapMb, oldGenLiveMb())
      w.after(i, dt)
      i += 1
    }

    val (checks, verdicts) = w.checks()
    val okOps = outs.indices.map(j => outs(j).ok && verdicts.getOrElse(j, true))
    val failedOps = okOps.count(!_)
    val failedChecks = checks.count(!_.ok)
    val attempted = outs.size + checks.size
    val failed = failedOps + failedChecks

    val n = lat.size
    val sorted = lat.sorted
    // the highest percentile with at least ten samples beyond it; below
    // 21 samples that percentile is not above the median, so the maximum
    val (tail, tailNote) =
      if (n > 20) (sorted(n - 11), f"p${100.0 * (n - 10) / n}%.1f of $n")
      else (sorted.last, s"max of $n")
    val e2e = Seq(
      Metric("setup_s", setupS, "s", f"session start $sessionS%.2f s"),
      Metric("op_p50_s", Stats.median(lat.toSeq), "s", s"n=$n"),
      Metric("op_tail_s", tail, "s", tailNote),
      Metric("rows_per_s", outs.map(_.rows).sum / lat.sum, "1/s", s"${outs.map(_.rows).sum} rows"),
      Metric("heap_live_mb", heapMb, "MB", "highest old gen after a full GC after each operation"))
    val extra = w.extras().map { case (k, v, u) => Metric(k, v, u) } :+
      Metric("fail_ratio", failed.toDouble / attempted, "ratio", s"$failed of $attempted")

    println(s"workload $name seed $seed: $n operations in ${"%.1f".format(lat.sum)} s, ${if (trace) "traced" else "untraced"}")
    checks.foreach(c => println(s"  check ${if (c.ok) "PASS" else "FAIL"} ${c.name}: ${c.detail}"))
    if (failedOps > 0) println(s"  $failedOps operations failed or returned a wrong result")
    (e2e ++ extra).foreach(m => println(f"  ${m.name}%-16s ${m.value}%14.6f ${m.unit}%-6s ${m.note}"))

    val metrics =
      if (!trace) e2e
      else {
        tracer.drain()
        val v = tracer.view()
        val layer = Main.layer(v, w, outs.indices.filter(traced).toSet, lat.toSeq, gcS)
        val spanFile = s"$work/trace-$name-$seed.json"
        java.nio.file.Files.writeString(java.nio.file.Paths.get(spanFile),
          v.toJson(tracer.runId, Seq("workload" -> name, "seed" -> seed, "cores" -> cores,
            "layer_metrics" -> layer)))
        println(s"  spans: $spanFile")
        layer.toSeq.sortBy(_._1).foreach { case (k, x) => println(f"  $k%-36s $x%14.6f") }
        layer.toSeq.sortBy(_._1).map { case (k, x) => Metric(k, x, LayerUnits.unit(k)) }
      }
    println(Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> m.value, "unit" -> m.unit)))))).text)
    0
  }

  /** Every listed per-layer metric (those a workload has no part in read
    * 0), plus those only this workload has.
    */
  def layer(v: TraceView, w: Workload, traced: Set[Int], lat: Seq[Double],
            gcS: Double): Map[String, Double] = {
    val ops = v.spans.filter(s => s.layer == "bench" && s.parent < 0)
    val nOps = math.max(1, ops.size).toDouble
    val incl = ops.map(s => v.inclusive(s.id)).foldLeft(Map.empty[String, Long])(TraceView.add)
    def c(k: String) = incl.getOrElse(k, 0L).toDouble
    val wall = ops.map(_.seconds).sum
    val selfByLayer = v.spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => v.selfS(s.id)).sum / nOps }
    val tracedLat = lat.indices.filter(traced).map(lat)
    val plainLat = lat.indices.filterNot(traced).map(lat)
    val overhead = Stats.median(tracedLat) - Stats.median(plainLat)
    val generic = Map(
      "spark.task_s" -> c("task_ms") / 1e3 / nOps,
      "spark.task_gc_s" -> c("task_gc_ms") / 1e3 / nOps,
      "spark.shuffle_read_mb" -> c("shuffle_read_bytes") / 1048576 / nOps,
      "spark.shuffle_write_mb" -> c("shuffle_write_bytes") / 1048576 / nOps,
      "spark.spill_mb" -> c("spill_bytes") / 1048576 / nOps,
      "spark.input_mb" -> c("input_bytes") / 1048576 / nOps,
      "spark.output_mb" -> c("output_bytes") / 1048576 / nOps,
      "spark.jobs" -> c("jobs") / nOps,
      "spark.stages" -> c("stages") / nOps,
      "spark.busy_ratio" -> (if (wall > 0) c("task_ms") / 1e3 / (wall * cores) else 0.0),
      "jvm.gc_s" -> gcS / math.max(1, lat.size),
      "trace.overhead_s" -> (if (plainLat.isEmpty) 0.0 else overhead),
      "trace.overhead_ratio" -> (if (plainLat.isEmpty) 0.0 else overhead / Stats.median(plainLat)),
      "trace.listener_s" -> v.listenerS) ++
      (LayerUnits.Layers ++ selfByLayer.keys).distinct.map(l => s"layers.$l.self_s" -> selfByLayer.getOrElse(l, 0.0))
    LayerUnits.all.map(_ -> 0.0).toMap ++ generic ++ w.layer(v)
  }
}

/** The per-layer metric names every traced run reports (the list in
  * `BENCHMARK.json`), and those only `star_reads` reports, with units.
  */
object LayerUnits {
  val Layers = Seq("bench", "streaming", "pipeline", "sources", "registry")
  val StarOps = Seq("star_compose", "star_sql", "asof_star", "quality_report")
  val CurationOps = Seq("q21", "q22", "q59", "q155", "q203", "q206")

  val units: Seq[(String, String)] = Seq(
    "pipeline.run_s" -> "s", "pipeline.jobs" -> "count", "pipeline.dq_pass_ratio" -> "ratio",
    "streaming.ingest_s" -> "s", "streaming.rows" -> "count", "streaming.microbatches" -> "count",
    "sources.buckets_touched_ratio" -> "ratio", "sources.bytes_written" -> "bytes",
    "sources.files_written" -> "count", "sources.roots" -> "count", "sources.compactions" -> "count",
    "sources.compact_batch_s" -> "s", "sources.plain_batch_s" -> "s",
    "sources.write_amp" -> "ratio", "sources.space_amp" -> "ratio") ++
    CurationOps.flatMap(o => Seq(s"operators.$o.s" -> "s", s"operators.$o.jobs" -> "count")) ++
    Seq("spark.task_s" -> "s", "spark.task_gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
      "spark.output_mb" -> "MB", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.busy_ratio" -> "ratio", "jvm.gc_s" -> "s",
      "trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio", "trace.listener_s" -> "s") ++
    Layers.map(l => s"layers.$l.self_s" -> "s")

  val starOnly: Seq[(String, String)] = Seq("sources.read_s" -> "s", "layers.operators.self_s" -> "s") ++
    StarOps.flatMap(o => Seq(s"operators.$o.s" -> "s", s"operators.$o.jobs" -> "count"))

  def all: Seq[String] = units.map(_._1)
  def unit(k: String): String = (units ++ starOnly).toMap.getOrElse(k, "count")
}
