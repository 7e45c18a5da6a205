package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{Dedup, Quality, Scd}
import graft.pipeline.Medallion
import graft.pipeline.Medallion.TableSpec
import graft.sources.Snapshots
import graft.streaming.IngestPipeline

/** The medallion flow over one state directory: land a change batch,
  * ingest it Autoloader-style into bronze, then run `Medallion.run`
  * (watermark slice, silver DQ and dedup, bucketed SCD1/SCD2 gold merge,
  * compaction, watermark commit).
  *
  * Layout under `root`: `land/<table>/` holds the landed change files
  * (the generated input); `state/` is everything the pipeline writes:
  * bronze, stream checkpoints, gold stores and the watermark store.
  */
final class Flow(spark: SparkSession, root: String, buckets: Int,
                 compactAfterRoots: Int, tracer: Tracer) {
  import Flow._

  val land = s"$root/land"
  val state = s"$root/state"
  def gold(t: String) = s"$state/gold/$t"

  /** Landed bytes so far, and the highest batch committed. */
  var landedBytes = 0L
  var lastCommitted = -1

  /** Write one batch's rows as one parquet file per table, renamed into
    * the landing directory whole, as an upstream copy job would.
    */
  def land(k: Int, rows: Map[String, Seq[Row]]): Unit = Tables.foreach { t =>
    val tmp = f"$root/tmp/$t-$k%06d.parquet"
    Gen.writeFile(tmp, schema(t), rows(t))
    val dst = new File(f"$land/$t/batch-$k%06d.parquet")
    dst.getParentFile.mkdirs()
    landedBytes += new File(tmp).length
    Files.move(Paths.get(tmp), dst.toPath)
  }

  /** Commit landed batch `k`: one streaming ingest per table, then one
    * `Medallion.run` over all three tables.
    */
  def commit(k: Int): (Seq[Ingest], Seq[Medallion.RunResult]) = {
    val ingests = Tables.map { t =>
      tracer.span("streaming", s"IngestPipeline.runOnce($t)") {
        val q = IngestPipeline.runOnce(
          IngestPipeline.boundedFileStream(spark, s"$land/$t", schema(t)),
          silver(t), s"$state/bronze/$t", s"$state/_checkpoints/$t")
        tracer.bind(q.runId.toString)
        q.awaitTermination()
        val progress = q.recentProgress
        Ingest(progress.map(_.numInputRows).sum, progress.count(_.numInputRows > 0))
      }
    }
    val results = tracer.span("pipeline", "Medallion.run") {
      Medallion.run(spark, specs(buckets), t => spark.read.parquet(s"$state/bronze/$t"),
        state, Gen.highMark(k), compactAfterRoots)
    }
    lastCommitted = k
    (ingests, results)
  }

  /** Current manifest of every gold table. */
  def manifests(): Map[String, (Int, Seq[Snapshots.BucketEntry])] =
    Tables.map(t => t -> Snapshots.currentBuckets(spark, gold(t)).get).toMap

  def roots(): Map[String, Int] = Tables.map(t => t -> Snapshots.referencedRoots(spark, gold(t))).toMap

  /** Bytes on disk under the gold stores over bytes their current
    * manifests reference.
    */
  def spaceAmp(): Double = {
    val onDisk = Tables.map(t => treeBytes(Paths.get(gold(t)))).sum
    val referenced = manifests().toSeq.flatMap { case (t, (_, es)) =>
      es.map(e => treeBytes(Paths.get(gold(t), e.dir)))
    }.sum
    onDisk.toDouble / referenced
  }

  /** The one-shot reference build of every gold table from the landed
    * changelog: the rows each batch's window accepts, minus DQ failures,
    * through `Scd.scd2FromChangelog` / `Dedup.latestByKey`.
    */
  def reference(t: String): DataFrame = {
    val s = specs(buckets).find(_.name == t).get
    val accepted = silver(t)(spark.read.schema(schema(t)).parquet(s"$land/$t"))
      .filter(col("ts") > timestamp_micros(lit(Gen.T0Micros) + (col("batch") - 1) * Gen.StepMicros) &&
        col("ts") <= timestamp_micros(lit(Gen.T0Micros) + col("batch") * Gen.StepMicros) &&
        col("batch") <= lastCommitted)
      .filter(s.keys.map(k => col(k).isNotNull).reduce(_ && _))
    if (s.scdType == 2)
      Scd.scd2FromChangelog(accepted.dropDuplicates(s.keys ++ Seq(s.seqCol) ++ s.tieCols),
        s.keys, s.seqCol, s.tieCols)
    else Dedup.latestByKey(accepted, s.keys, s.seqCol +: s.tieCols)
  }

  /** Correctness of the final state: each gold table equals its one-shot
    * reference (`except` both ways, equal row counts, manifest row total)
    * and the watermark store holds the last batch's high mark.
    */
  def check(): Seq[Check] = {
    val tables = Tables.map { t =>
      val ref = reference(t)
      val got = Snapshots.read(spark, gold(t)).select(ref.columns.map(col).toIndexedSeq: _*)
      val missing = ref.except(got).count()
      val extra = got.except(ref).count()
      val (nRef, nGot) = (ref.count(), got.count())
      val manifestRows = Snapshots.totalRows(spark, gold(t))
      Check(s"gold $t equals one-shot build",
        missing == 0 && extra == 0 && nRef == nGot && manifestRows == nRef,
        s"missing=$missing extra=$extra rows=$nGot/$nRef manifest=$manifestRows")
    }
    val wm = new Medallion.WatermarkStore(spark, s"$state/_watermarks").snapshot()
    val want = Gen.highMark(lastCommitted)
    tables :+ Check("watermark equals last high mark",
      Tables.forall(t => wm.get(t).contains(want)), s"stored=$wm want=$want")
  }
}

final case class Check(name: String, ok: Boolean, detail: String)

object Flow {
  val Tables: Seq[String] = Seq("customer", "part", "lineitem")

  /** One streaming ingest: input rows and non-empty micro-batches. */
  final case class Ingest(rows: Long, microbatches: Int)

  def schema(t: String): StructType = t match {
    case "customer" => Gen.CustomerSchema
    case "part" => Gen.PartSchema
    case "lineitem" => Gen.LineitemSchema
  }

  /** The bronze→silver transform of the ingest hop: DimTrack's
    * `duration_flag` CASE bucket; the other tables pass through.
    */
  def silver(t: String): DataFrame => DataFrame =
    if (t == "part") _.withColumn("duration_flag",
      when(col("p_size") < 15, "short").when(col("p_size") < 35, "medium").otherwise("long"))
    else identity

  private def notNull(c: String) = Quality.Rule(s"${c}_not_null", col(c).isNull)

  def specs(buckets: Int): Seq[TableSpec] = Seq(
    TableSpec("customer", Seq("c_custkey"), "ts", Seq("change_id"),
      Seq(notNull("c_custkey")), scdType = 2, buckets = buckets),
    TableSpec("part", Seq("p_partkey"), "ts", Seq("change_id"),
      Seq(notNull("p_partkey")), scdType = 2, buckets = buckets),
    TableSpec("lineitem", Seq("l_orderkey", "l_linenumber"), "ts", Seq("change_id"),
      Seq(notNull("l_orderkey")), scdType = 1, buckets = buckets))

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Every regular file under `p` with its size. */
  def listing(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
