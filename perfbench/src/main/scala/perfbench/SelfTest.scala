package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.NumericType
import graft.sources.Snapshots

/** Proves the correctness checks bite, on inputs about the size of the
  * smallest test data: a clean state must pass, and each injected
  * corruption must be reported.
  *
  *  1. one gold row of `customer` changed in place;
  *  2. one bucket entry dropped from `part`'s current manifest;
  *  3. one value of a curation output changed after it was checked
  *     (the timed hash check flags it here; the DuckDB oracle check in
  *     `run.py` must flag it too).
  *
  * Prints one `SELFTEST <name> <flagged|MISSED|PASS|FAIL>` line per case.
  */
object SelfTest {
  val PerturbedQuery = "q155_pagerank_copurchase"

  def run(spark: SparkSession, work: String): Int = {
    val tracer = new Tracer(spark.sparkContext, enabled = false, "selftest")
    val flow = new Flow(spark, s"$work/selftest", 8, 2, tracer)
    val feed = new Gen.Feed(1L, Gen.FeedSize(150, 200, 500, 3, 5))
    (0 to 4).foreach { k => flow.land(k, feed.batch(k)); flow.commit(k) }
    def report(name: String, good: Boolean, word: (String, String)): Boolean = {
      println(s"SELFTEST $name ${if (good) word._1 else word._2}")
      good
    }
    val clean = flow.check()
    clean.filterNot(_.ok).foreach(c => println(s"  ${c.name}: ${c.detail}"))
    val results = collection.mutable.ArrayBuffer(
      report("clean_cdc_state", clean.forall(_.ok), ("PASS", "FAIL")))

    // 1. change one stored gold row
    val (_, custEntries) = Snapshots.currentBuckets(spark, flow.gold("customer")).get
    perturbOneRow(spark, s"${flow.gold("customer")}/${custEntries.find(_.rows > 0).get.dir}", s"$work/tmp-row")
    results += report("corrupt_gold_row", flow.check().exists(c => !c.ok && c.name.contains("customer")),
      ("flagged", "MISSED"))

    // 2. drop one bucket entry from the current manifest
    val partGold = flow.gold("part")
    val manifest = Paths.get(partGold, "_manifests", f"${Snapshots.currentVersion(spark, partGold).get}%08d")
    val lines = Files.readAllLines(manifest).asScala.toSeq
    val drop = lines.indexWhere(l => l.split("\t").length == 3 && l.split("\t")(2).toLong > 0)
    Files.write(manifest, lines.patch(drop, Nil, 1).asJava)
    results += report("drop_manifest_bucket", flow.check().exists(c => !c.ok && c.name.contains("part")),
      ("flagged", "MISSED"))

    // 3. change one curation output after it was checked
    val cur = new CurationWorkload(spark, work, 1L, tracer, Gen.CorpusSize(300, 300, 500, 100))
    cur.generate()
    cur.setUp()
    cur.beforeWindow()
    results += report("clean_curation_hashes", cur.op(0).ok, ("PASS", "FAIL"))
    perturbOneRow(spark, s"${cur.out}/$PerturbedQuery", s"$work/tmp-out")
    results += report("perturb_curation_output", !cur.recheck(PerturbedQuery), ("flagged", "MISSED"))
    println(s"SELFTEST_ORACLE ${cur.corpus} ${cur.out} $PerturbedQuery")
    if (results.forall(identity)) 0 else 1
  }

  /** Add 1 to the first numeric value of the first row of the parquet
    * data in `dir`, rewriting it in place.
    */
  def perturbOneRow(spark: SparkSession, dir: String, tmp: String): Unit = {
    val df = spark.read.parquet(dir)
    val rows = df.collect()
    val i = df.schema.fields.indexWhere(_.dataType.isInstanceOf[NumericType])
    val r = rows(0).toSeq.toArray
    r(i) = r(i) match {
      case x: Long => x + 1; case x: Int => x + 1; case x: Double => x + 1
      case x: Float => x + 1; case x: java.math.BigDecimal => x.add(java.math.BigDecimal.ONE)
      case x => x
    }
    spark.createDataFrame((Row.fromSeq(r.toSeq) +: rows.tail.toSeq).asJava, df.schema)
      .coalesce(1).write.parquet(tmp)
    new File(dir).listFiles().filter(f => f.getName.endsWith(".parquet") || f.getName.endsWith(".crc"))
      .foreach(_.delete())
    new File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, Paths.get(dir, f.getName)))
    Flow.deleteTree(new File(tmp))
  }
}
