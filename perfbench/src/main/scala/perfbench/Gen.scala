package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Seeded input generators. The same seed gives the same inputs; nothing
  * is read from outside the run's own directory.
  *
  * The change feed maps the reference's star schema onto the TPC-H-style
  * tables of the repository's test data:
  *  - `customer` → DimUser, SCD2 keyed by `c_custkey`;
  *  - `part` → DimTrack, SCD2 keyed by `p_partkey` (silver adds the
  *    `duration_flag` CASE bucket over `p_size`);
  *  - `lineitem` → FactStream, SCD1 keyed by (`l_orderkey`,
  *    `l_linenumber`).
  *
  * Every change row carries a sequence timestamp `ts`, a `change_id` tie
  * breaker and the landing `batch` it arrived in. Batch k's window is
  * (T(k-1), T(k)]. A batch mixes inserts, updates to existing keys,
  * exact duplicates, a second out-of-order version of an updated key,
  * rows with a null business key (dropped by silver DQ) and late rows
  * whose `ts` falls before the batch's window (dropped by the watermark
  * slice). Rows land shuffled, so the sequence order never matches the
  * file order.
  */
object Gen {
  /** T(0): the base load's high watermark. */
  val T0Micros: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  /** Width of one batch's sequence window. */
  val StepMicros: Long = 3600L * 1000000L

  def highMark(batch: Int): Timestamp = micros(T0Micros + batch * StepMicros)
  def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Brands = Array.tabulate(25)(i => f"Brand#${i / 5 + 1}${i % 5 + 1}")
  private val Types = Array("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")

  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)) ++ ChangeCols)
  val PartSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)) ++ ChangeCols)
  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_custkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_shipdate", TimestampType)) ++ ChangeCols)
  private def ChangeCols = Seq(StructField("ts", TimestampType),
    StructField("change_id", LongType), StructField("batch", IntegerType))

  /** Row counts of one change feed: the base load and every later batch. */
  final case class FeedSize(baseCustomers: Int, baseParts: Int, baseOrders: Int,
                            dimRowsPerBatch: Int, factRowsPerBatch: Int)

  /** The whole change feed for one seed; `batch(k)` is deterministic in
    * (seed, k) provided batches are drawn in order 0, 1, 2, ...
    */
  final class Feed(seed: Long, size: FeedSize) {
    private var nextCust = 0L
    private var nextPart = 0L
    private var nextOrder = 0L
    private var nextChange = 0L
    private var drawn = -1

    /** Change rows of batch k per table; k = 0 is the base load. */
    def batch(k: Int): Map[String, Seq[Row]] = {
      require(k == drawn + 1, s"batches are drawn in order: expected ${drawn + 1}, got $k")
      drawn = k
      val rng = new java.util.Random(seed * 1000003L + k * 7919L + 17L)
      val lo = T0Micros + (k - 1) * StepMicros
      def tsIn(): Long = lo + 1 + (rng.nextDouble() * (StepMicros - 1)).toLong
      def change(): Long = { nextChange += 1; nextChange }
      if (k == 0) {
        val cs = (0 until size.baseCustomers).map(_ => customer(rng, newCust(), tsIn(), change(), 0))
        val ps = (0 until size.baseParts).map(_ => part(rng, newPart(), tsIn(), change(), 0))
        val ls = (0 until size.baseOrders).flatMap { _ =>
          val o = newOrder()
          (1 to 1 + (o % 4).toInt).map(l => lineitem(rng, o, l, tsIn(), change(), 0))
        }
        Map("customer" -> cs, "part" -> ps, "lineitem" -> ls)
      } else {
        val cs = mix(rng, size.dimRowsPerBatch, 1, tsIn _, change _, lo,
          insert = (t, c) => customer(rng, newCust(), t, c, k),
          update = (t, c) => customer(rng, pick(rng, nextCust), t, c, k),
          nullKey = (t, c) => customer(rng, -1L, t, c, k))
        val ps = mix(rng, size.dimRowsPerBatch, 1, tsIn _, change _, lo,
          insert = (t, c) => part(rng, newPart(), t, c, k),
          update = (t, c) => part(rng, pick(rng, nextPart), t, c, k),
          nullKey = (t, c) => part(rng, -1L, t, c, k))
        val ls = mix(rng, size.factRowsPerBatch, 2, tsIn _, change _, lo,
          insert = (t, c) => lineitem(rng, newOrder(), 1, t, c, k),
          update = (t, c) => lineitem(rng, pick(rng, nextOrder), 1 + rng.nextInt(2), t, c, k),
          nullKey = (t, c) => lineitem(rng, -1L, 1, t, c, k))
        Map("customer" -> cs, "part" -> ps, "lineitem" -> ls)
      }
    }

    private def newCust() = { nextCust += 1; nextCust - 1 }
    private def newPart() = { nextPart += 1; nextPart - 1 }
    private def newOrder() = { nextOrder += 1; nextOrder - 1 }
    private def pick(rng: java.util.Random, n: Long) = (rng.nextDouble() * n).toLong

    private def customer(rng: java.util.Random, key: Long, ts: Long, ch: Long, b: Int) =
      Row(if (key < 0) null else key, f"Customer#$key%09d", rng.nextInt(25),
        math.round(rng.nextDouble() * 1099900 - 99900) / 100.0,
        Segments(rng.nextInt(Segments.length)), micros(ts), ch, b)

    private def part(rng: java.util.Random, key: Long, ts: Long, ch: Long, b: Int) =
      Row(if (key < 0) null else key, s"part $key", Brands(rng.nextInt(Brands.length)),
        Types(rng.nextInt(Types.length)), 1 + rng.nextInt(50),
        900 + math.round(rng.nextDouble() * 110000) / 100.0, micros(ts), ch, b)

    private def lineitem(rng: java.util.Random, order: Long, line: Int, ts: Long, ch: Long, b: Int) = {
      val qty = (1 + rng.nextInt(50)).toDouble
      Row(if (order < 0) null else order, line, pick(rng, math.max(nextPart, 1)),
        pick(rng, math.max(nextCust, 1)), qty,
        math.round(qty * (900 + rng.nextDouble() * 1100) * 100) / 100.0,
        rng.nextInt(11) / 100.0, micros(T0Micros - 86400L * 1000000L * rng.nextInt(2000)),
        micros(ts), ch, b)
    }

    /** One batch of `n` rows for one table: one in twenty (at least one)
      * each of exact duplicates, second out-of-order versions of an
      * updated key, null business keys and late rows; the rest are a
      * quarter inserts and three quarters updates. `keyCols` leading
      * columns form the business key.
      */
    private def mix(rng: java.util.Random, n: Int, keyCols: Int, ts: () => Long, ch: () => Long,
                    lo: Long, insert: (Long, Long) => Row, update: (Long, Long) => Row,
                    nullKey: (Long, Long) => Row): Seq[Row] = {
      val extras = math.max(1, n / 20)
      val core = (0 until math.max(1, n - 4 * extras)).map { _ =>
        if (rng.nextInt(100) < 25) insert(ts(), ch()) else update(ts(), ch())
      }
      val dups = (0 until extras).map(_ => core(rng.nextInt(core.size)))
      // a second version of an already-updated key whose sequence value
      // sorts BEFORE the first one's: it lands after it in file order
      val reordered = (0 until extras).map { _ =>
        val first = core(rng.nextInt(core.size))
        val t = first.getTimestamp(first.length - 3)
        val earlier = math.max(lo + 1, toMicros(t) - 1 - rng.nextInt(1000))
        val v = update(earlier, ch()).toSeq.toArray
        (0 until keyCols).foreach(i => v(i) = first.get(i))
        Row.fromSeq(v.toSeq)
      }
      val nulls = (0 until extras).map(_ => nullKey(ts(), ch()))
      val late = (0 until extras).map(_ => update(lo - (rng.nextDouble() * StepMicros).toLong, ch()))
      val all = core ++ dups ++ reordered ++ nulls ++ late
      val shuffled = new java.util.ArrayList[Row](all.asJava)
      java.util.Collections.shuffle(shuffled, rng)
      shuffled.asScala.toSeq
    }
  }

  private def toMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  // ---------------------------------------------------------------------
  // Curation corpus: the registry tables the LLM-data operators read.

  private val Vocab = ("the a data spark table join merge window hash sort filter key value " +
    "row column batch stream query order part line customer group agg vector fast slow " +
    "big small scan dup index shard token model text clean label graph rank").split(" ")
  private val Langs = Array("en", "de", "fr", "es", "zh")

  final case class CorpusSize(documents: Int, embeddings: Int, orders: Int, parts: Int)

  /** Write `documents`, `embeddings` and `lineitem` (test-data schema)
    * under `dir`, one `<name>.parquet` directory each. Every sixth
    * document is a near copy of an earlier one (two words swapped), so the
    * near-duplicate operators have pairs to find; baskets of one to seven
    * parts give the co-purchase graph its edges.
    */
  def writeCorpus(dir: String, seed: Long, size: CorpusSize): Unit = {
    val rng = new java.util.Random(seed * 31L + 5L)
    val texts = new Array[String](size.documents)
    // counts and lengths depend on the position only, so every seed costs
    // the same; the seed picks the words, the copied documents and the parts
    val docs = (0 until size.documents).map { i =>
      val text =
        if (i % 6 == 5) {
          val w = texts(6 * rng.nextInt(i / 6 + 1) + rng.nextInt(5)).split(" ")
          (0 until 2).foreach(_ => w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length)))
          w.mkString(" ")
        } else Seq.fill(15 + i * 7 % 31)(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, Langs(rng.nextInt(Langs.length)), s"src${rng.nextInt(10)}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    val embs = (0 until size.embeddings).map { i =>
      Row(i.toLong, Seq.fill(64)((rng.nextGaussian() * 0.5).toFloat), rng.nextInt(10))
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val lines = (0 until size.orders).flatMap { o =>
      (1 to 1 + o % 7).map { l =>
        val qty = (1 + rng.nextInt(50)).toDouble
        Row(o.toLong, rng.nextInt(size.parts).toLong, rng.nextInt(10).toLong, l, qty,
          math.round(qty * (900 + rng.nextDouble() * 1100) * 100) / 100.0,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rng.nextInt(3)), Seq("O", "F")(rng.nextInt(2)),
          micros(T0Micros - 86400L * 1000000L * rng.nextInt(2000)))
      }
    }
    val liSchema = StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    writeFile(s"$dir/documents.parquet/part-0.parquet", docSchema, docs)
    writeFile(s"$dir/embeddings.parquet/part-0.parquet", embSchema, embs)
    writeFile(s"$dir/lineitem.parquet/part-0.parquet", liSchema, lines)
  }

  /** Write `rows` as one parquet file without Spark, so generating and
    * landing inputs runs no Spark job of its own. Covers the column types
    * the generators use.
    */
  def writeFile(path: String, schema: StructType, rows: Seq[Row]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, MessageType, Types => P}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val fields = schema.fields.map { f =>
      f.dataType match {
        case LongType => P.optional(INT64).named(f.name)
        case IntegerType => P.optional(INT32).named(f.name)
        case DoubleType => P.optional(DOUBLE).named(f.name)
        case StringType => P.optional(BINARY).as(L.stringType()).named(f.name)
        case TimestampType =>
          P.optional(INT64).as(L.timestampType(true, L.TimeUnit.MICROS)).named(f.name)
        case ArrayType(FloatType, _) =>
          P.optionalList().optionalElement(FLOAT).named(f.name)
        case t => throw new IllegalArgumentException(s"unsupported column type $t")
      }
    }
    val msg = new MessageType("row", fields.toSeq.map(t => t: org.apache.parquet.schema.Type).asJava)
    val groups = new SimpleGroupFactory(msg)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(msg).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        val n = schema.fields(i).name
        schema.fields(i).dataType match {
          case LongType => g.append(n, r.getLong(i))
          case IntegerType => g.append(n, r.getInt(i))
          case DoubleType => g.append(n, r.getDouble(i))
          case StringType => g.append(n, r.getString(i))
          case TimestampType => g.append(n, toMicros(r.getTimestamp(i)))
          case _ =>
            val list = g.addGroup(n)
            r.getSeq[Float](i).foreach(x => list.addGroup("list").append("element", x))
        }
      }
      writer.write(g)
    } finally writer.close()
  }
}
