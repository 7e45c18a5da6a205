package perfbench

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{Quality, Scd, StarSchema}
import graft.sources.Snapshots

/** Result of one timed operation: rows it processed, and whether its
  * output was right.
  */
final case class OpOut(rows: Long, ok: Boolean)

/** A closed-loop workload: set up, then one operation after another. */
trait Workload {
  /** Operations per pass over a fixed mix; the timed window always ends
    * on a whole pass, so every run times the same mix.
    */
  def passSize: Int = 1
  /** Operations a traced run traces or leaves untraced in one go: a whole
    * pass, unless single operations are alike.
    */
  def traceUnit: Int = passSize
  /** Untimed input generation, before any set-up. */
  def generate(): Unit = ()
  /** Set-up: load the state the timed operations run on, and warm up. */
  def setUp(): Unit
  /** Untimed work between set-up and the timed window. */
  def beforeWindow(): Unit = ()
  /** Untimed preparation of operation i (landing its input). */
  def prepare(i: Int): Unit = ()
  /** The timed unit operation. */
  def op(i: Int): OpOut
  /** Untimed bookkeeping after operation i took `seconds`. */
  def after(i: Int, seconds: Double): Unit = ()
  /** Correctness checks after the timed window, plus late verdicts on
    * individual operations (index → ok).
    */
  def checks(): (Seq[Check], Map[Int, Boolean])
  /** End-to-end metrics only this workload has, for the printed report. */
  def extras(): Seq[(String, Double, String)] = Nil
  /** Workload-specific per-layer metrics from the traced operations. */
  def layer(v: TraceView): Map[String, Double] = Map.empty
}

object Stats {
  /** An order-independent fingerprint of every column of every row
    * (multiset: duplicates count), forcing the whole plan to run.
    */
  def hash(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h")).agg(bit_xor(col("h")), count(lit(1)),
      sum(col("h").bitwiseAND(lit(0xFFFFFFL)))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median over spans named `name` of their seconds and inclusive jobs. */
  def callStats(v: TraceView, layer: String, name: String): (Double, Double) = {
    val ss = v.spans.filter(s => s.layer == layer && s.name == name)
    (Stats.median(ss.map(_.seconds)), Stats.median(ss.map(s => v.inclusive(s.id)("jobs").toDouble)))
  }
}

import Stats.{callStats, hash}

/** The CDC workloads: each operation commits one landed change batch
  * through ingest and `Medallion.run`.
  */
final class CdcWorkload(spark: SparkSession, work: String, seed: Long, tracer: Tracer,
                        size: Gen.FeedSize, buckets: Int, compactAfterRoots: Int)
    extends Workload {
  // at least three commits per run, so the median is one of them
  override def passSize: Int = 3
  override def traceUnit: Int = 1
  private var flow: Flow = _
  private val feed = new Gen.Feed(seed, size)
  // set-up commits the base load and one warm-up batch
  private lazy val setupBatches = Seq(feed.batch(0), feed.batch(1))

  override def generate(): Unit = setupBatches

  def setUp(): Unit = {
    flow = new Flow(spark, s"$work/flow", buckets, compactAfterRoots, tracer)
    setupBatches.zipWithIndex.foreach { case (b, k) => flow.land(k, b); flow.commit(k) }
  }

  private def batchOf(i: Int) = i + setupBatches.size
  private var before: Map[String, (Int, Seq[Snapshots.BucketEntry])] = Map.empty
  private var rootsBefore: Map[String, Int] = Map.empty
  private var files: Map[String, Long] = Map.empty

  // per-operation bookkeeping
  private val touchedRatio = collection.mutable.ArrayBuffer.empty[Double]
  private val bytesWritten = collection.mutable.ArrayBuffer.empty[Long]
  private val filesWritten = collection.mutable.ArrayBuffer.empty[Long]
  private val rootsAfter = collection.mutable.ArrayBuffer.empty[Double]
  private val compacted = collection.mutable.ArrayBuffer.empty[(Boolean, Double)]
  private var extracted, cleaned, streamRows, streamCalls, microbatches = 0L
  private val landed = collection.mutable.ArrayBuffer.empty[Long]

  override def beforeWindow(): Unit = files = Flow.listing(Paths.get(flow.state))

  override def prepare(i: Int): Unit = {
    val landedBefore = flow.landedBytes
    flow.land(batchOf(i), feed.batch(batchOf(i)))
    landed += flow.landedBytes - landedBefore
    before = flow.manifests()
    rootsBefore = flow.roots()
  }

  def op(i: Int): OpOut = {
    val (ingests, results) = flow.commit(batchOf(i))
    ingests.foreach { g => streamRows += g.rows; streamCalls += 1; microbatches += g.microbatches }
    extracted += results.map(_.extracted).sum
    val c = results.map(_.cleaned).sum
    cleaned += c
    OpOut(c, ok = true)
  }

  override def after(i: Int, seconds: Double): Unit = {
    val now = flow.manifests()
    val touched = Flow.Tables.map { t =>
      (now(t)._2.toSet -- before(t)._2.toSet).size
    }.sum
    touchedRatio += touched.toDouble / Flow.Tables.map(now(_)._1).sum
    val roots = flow.roots()
    rootsAfter += roots.values.sum.toDouble / roots.size
    compacted += ((Flow.Tables.exists(t => roots(t) < rootsBefore(t)), seconds))
    val listing = Flow.listing(Paths.get(flow.state))
    val fresh = listing.filter { case (f, n) => !files.get(f).contains(n) }
    bytesWritten += fresh.values.sum
    filesWritten += fresh.size
    files = listing
  }

  def checks(): (Seq[Check], Map[Int, Boolean]) = (flow.check(), Map.empty)

  private def writeAmp = bytesWritten.sum.toDouble / math.max(1L, landed.sum)

  override def extras(): Seq[(String, Double, String)] = Seq(
    ("write_amp", writeAmp, "ratio"),
    ("space_amp", flow.spaceAmp(), "ratio"))

  override def layer(v: TraceView): Map[String, Double] = {
    val (runS, runJobs) = callStats(v, "pipeline", "Medallion.run")
    val ingest = v.spans.filter(_.layer == "streaming")
    val (compactOps, plainOps) = compacted.partition(_._1)
    Map(
      "pipeline.run_s" -> runS,
      "pipeline.jobs" -> runJobs,
      "pipeline.dq_pass_ratio" -> cleaned.toDouble / math.max(1L, extracted),
      "streaming.ingest_s" -> Stats.median(ingest.map(_.seconds)),
      "streaming.rows" -> streamRows.toDouble / math.max(1, compacted.size),
      "streaming.microbatches" -> microbatches.toDouble / math.max(1L, streamCalls),
      "sources.buckets_touched_ratio" -> Stats.median(touchedRatio.toSeq),
      "sources.bytes_written" -> Stats.median(bytesWritten.map(_.toDouble).toSeq),
      "sources.files_written" -> Stats.median(filesWritten.map(_.toDouble).toSeq),
      "sources.roots" -> Stats.median(rootsAfter.toSeq),
      "sources.compactions" -> compactOps.size.toDouble,
      "sources.compact_batch_s" -> Stats.median(compactOps.map(_._2).toSeq),
      "sources.plain_batch_s" -> Stats.median(plainOps.map(_._2).toSeq),
      "sources.write_amp" -> writeAmp,
      "sources.space_amp" -> flow.spaceAmp())
  }
}

/** Read-only star queries over the gold a fixed CDC prefix leaves behind. */
final class StarReadsWorkload(spark: SparkSession, work: String, seed: Long, tracer: Tracer,
                              size: Gen.FeedSize, buckets: Int, prefix: Int) extends Workload {
  private var flow: Flow = _
  private lazy val batches = {
    val feed = new Gen.Feed(seed, size)
    (0 to prefix).map(feed.batch)
  }
  override def generate(): Unit = batches

  /** A point in time halfway through the prefix, for the as-of stars. */
  private val asOf = Gen.highMark(prefix / 2)

  val queries: Seq[String] = Seq("star_compose", "star_sql", "asof_star", "quality_report")
  override def passSize: Int = queries.size

  /** Query `q` over (customer history, part history, fact). */
  def query(q: String, cust: DataFrame, part: DataFrame, fact: DataFrame): DataFrame = {
    val revenue = sum(col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount").cast("decimal(4,2)"))).as("revenue")
    val current = (d: DataFrame) => d.filter(col("is_current"))
    q match {
      case "star_compose" =>
        StarSchema.compose(fact, Seq("l_extendedprice", "l_discount"), Seq(
          StarSchema.Dim(current(cust), Seq("c_mktsegment"), "l_custkey", "c_custkey"),
          StarSchema.Dim(current(part), Seq("duration_flag"), "l_partkey", "p_partkey")))
          .groupBy("c_mktsegment", "duration_flag").agg(revenue, count(lit(1)).as("n"))
      case "star_sql" =>
        current(cust).createOrReplaceTempView("perfbench_customer")
        current(part).createOrReplaceTempView("perfbench_part")
        fact.createOrReplaceTempView("perfbench_fact")
        val star = StarSchema.renderSql("perfbench_fact", Seq("l_extendedprice", "l_quantity"), Seq(
          StarSchema.DimRef("perfbench_customer", Seq("c_nationkey"), "l_custkey", "c_custkey"),
          StarSchema.DimRef("perfbench_part", Seq("p_brand"), "l_partkey", "p_partkey", "left")))
        spark.sql(s"SELECT c_nationkey, p_brand, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue, " +
          s"SUM(l_quantity) AS qty, COUNT(*) AS n FROM ($star) GROUP BY c_nationkey, p_brand")
      case "asof_star" =>
        StarSchema.compose(fact, Seq("l_extendedprice", "l_discount"), Seq(
          StarSchema.Dim(Scd.asOfSnapshot(cust, lit(asOf)), Seq("c_mktsegment"), "l_custkey", "c_custkey",
            joinType = "left"),
          StarSchema.Dim(Scd.asOfSnapshot(part, lit(asOf)), Seq("p_type"), "l_partkey", "p_partkey",
            joinType = "left")))
          .groupBy("c_mktsegment", "p_type").agg(revenue, count(lit(1)).as("n"))
      case "quality_report" =>
        Quality.report(fact, Seq(
          Quality.Rule("discount_over_8pct", col("l_discount") > 0.08),
          Quality.Rule("bulk_quantity", col("l_quantity") > 45),
          Quality.Rule("shipped_before_2020", col("l_shipdate") < lit("2020-01-01").cast("timestamp")),
          Quality.Rule("price_per_unit_over_1900", col("l_extendedprice") / col("l_quantity") > 1900)))
    }
  }

  def setUp(): Unit = {
    flow = new Flow(spark, s"$work/flow", buckets, Int.MaxValue, tracer)
    batches.zipWithIndex.foreach { case (b, k) => flow.land(k, b); flow.commit(k) }
    queries.foreach(q => hash(query(q, read("customer"), read("part"), read("lineitem"))))
  }

  private def read(t: String) = Snapshots.read(spark, flow.gold(t))

  private lazy val goldRows = Flow.Tables.map(t => Snapshots.totalRows(spark, flow.gold(t))).sum
  private lazy val order = {
    val rng = new java.util.Random(seed)
    val xs = new java.util.ArrayList[String]()
    queries.foreach(xs.add)
    java.util.Collections.shuffle(xs, rng)
    (0 until xs.size).map(xs.get)
  }
  private val results = collection.mutable.ArrayBuffer.empty[(Int, String, String)]

  def op(i: Int): OpOut = {
    val q = order(i % order.size)
    val (c, p, f) = tracer.span("sources", "Snapshots.read") {
      (read("customer"), read("part"), read("lineitem"))
    }
    val h = tracer.span("operators", q)(hash(query(q, c, p, f)))
    results += ((i, q, h))
    OpOut(goldRows, ok = true)
  }

  def checks(): (Seq[Check], Map[Int, Boolean]) = {
    val ref = Flow.Tables.map(t => t -> flow.reference(t)).toMap
    val want = queries.map(q => q -> hash(query(q, ref("customer"), ref("part"), ref("lineitem")))).toMap
    val verdicts = results.map { case (i, q, h) => i -> (h == want(q)) }.toMap
    (flow.check() ++ queries.map { q =>
      val bad = results.count(r => r._2 == q && r._3 != want(q))
      Check(s"$q hash equals one-shot gold", bad == 0, s"mismatched=$bad want=${want(q)}")
    }, verdicts)
  }

  override def extras(): Seq[(String, Double, String)] = Seq(("space_amp", flow.spaceAmp(), "ratio"))

  override def layer(v: TraceView): Map[String, Double] = {
    val reads = v.spans.filter(s => s.layer == "sources").groupBy(_.op).values.map(_.map(_.seconds).sum)
    Map("sources.read_s" -> Stats.median(reads.toSeq),
      "sources.roots" -> Flow.Tables.map(t => Snapshots.referencedRoots(spark, flow.gold(t))).sum.toDouble / 3,
      "sources.space_amp" -> flow.spaceAmp()) ++
      queries.flatMap { q =>
        val (s, j) = callStats(v, "operators", q)
        Seq(s"operators.$q.s" -> s, s"operators.$q.jobs" -> j)
      }
  }
}

/** Registered LLM-data operators, each forced through a full hash. */
final class CurationWorkload(spark: SparkSession, work: String, seed: Long, tracer: Tracer,
                             size: Gen.CorpusSize) extends Workload {
  val corpus = s"$work/corpus"
  val out = s"$work/curation_out"
  val queries: Seq[String] = Seq("q21_dedup_ngram_jaccard", "q22_dedup_minhash_lsh",
    "q59_ann_ivf_trained", "q155_pagerank_copurchase", "q203_bfs_hops", "q206_label_communities")
  /** Rows of the table each query reads. */
  private lazy val inputRows: Map[String, Long] = {
    def n(t: String) = spark.read.parquet(s"$corpus/$t.parquet").count()
    val (d, e, l) = (n("documents"), n("embeddings"), n("lineitem"))
    Map(queries(0) -> d, queries(1) -> d, queries(2) -> e, queries(3) -> l, queries(4) -> l, queries(5) -> l)
  }
  private var checked: Map[String, String] = Map.empty

  override def generate(): Unit = {
    Gen.writeCorpus(corpus, seed, size)
    inputRows
  }

  /** The first, cold pass: every query's output written out for the
    * DuckDB oracle check.
    */
  def setUp(): Unit =
    queries.foreach(q => SparkEntry.queries(q)(spark, corpus).write.mode("overwrite").parquet(s"$out/$q"))

  /** Keep the hash of exactly what was written, and the oracle SQL. */
  override def beforeWindow(): Unit = {
    checked = queries.map(q => q -> hash(spark.read.parquet(s"$out/$q"))).toMap
    val sql = Json.obj(queries.map(q => q -> SparkEntry.oracleSql(q))).text
    java.nio.file.Files.writeString(Paths.get(s"$out/oracle_sql.json"), sql)
  }

  private lazy val order = {
    val xs = new java.util.ArrayList[String]()
    queries.foreach(xs.add)
    java.util.Collections.shuffle(xs, new java.util.Random(seed))
    (0 until xs.size).map(xs.get)
  }

  /** One curation round: every query once, in the seeded order. Single
    * queries differ in cost by 3x, so the median of a mix of them would
    * jump between kinds; the round is the unit, the per-query times are
    * the per-layer `operators.<q>.s`.
    */
  def op(i: Int): OpOut = {
    val ok = order.map(q => tracer.span("registry", q)(hash(SparkEntry.queries(q)(spark, corpus))) == checked(q))
    OpOut(order.map(inputRows).sum, ok.forall(identity))
  }

  def checks(): (Seq[Check], Map[Int, Boolean]) = (Nil, Map.empty)

  /** Whether the stored output of `q` still hashes to what was checked. */
  def recheck(q: String): Boolean = hash(spark.read.parquet(s"$out/$q")) == checked(q)

  override def layer(v: TraceView): Map[String, Double] =
    queries.flatMap { q =>
      val (s, j) = callStats(v, "registry", q)
      val short = q.takeWhile(_ != '_')
      Seq(s"operators.$short.s" -> s, s"operators.$short.jobs" -> j)
    }.toMap
}
