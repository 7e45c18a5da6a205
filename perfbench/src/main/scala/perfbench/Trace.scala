package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: jobs, stages and task metrics. */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val taskGcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  val output = new AtomicLong

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_ms" -> taskMs.get, "task_gc_ms" -> taskGcMs.get,
    "shuffle_read_bytes" -> shuffleRead.get,
    "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get,
    "input_bytes" -> input.get, "output_bytes" -> output.get)
}

/** One timed call into a layer. `parent` is -1 for a top-level span. */
final case class Span(id: Int, layer: String, name: String, parent: Int,
                      op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, with the Spark
  * jobs, stages and tasks each span caused.
  *
  * A span sets a Spark job group naming itself; the listener maps every
  * job to the span whose group it carries, and every stage and task to
  * its job's span. Streaming queries run their jobs under their own
  * group (the query's run id), so a span that starts a query binds that
  * id to itself with `bind`. Spans stay in memory and are written out
  * once, at exit.
  *
  * A disabled tracer records nothing, sets no job group and registers no
  * listener: `span` just runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Long)]
  private var nextId = 0
  /** Top-level operation index the current spans belong to (-1: none). */
  var op: Int = -1
  /** Off between traced operations: spans are recorded only while on. */
  var active: Boolean = true

  private val byGroup = new ConcurrentHashMap[String, Integer]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val counters = new ConcurrentHashMap[Integer, Counters]()
  /** Nanoseconds spent inside the listener's handlers. */
  val listenerNs = new AtomicLong

  private def countersOf(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val span: Int = Option(group).flatMap(g => Option(byGroup.get(g))).map(_.intValue).getOrElse(-1)
      countersOf(span).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageSpan.put(s, span))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      countersOf(spanOfStage(e.stageInfo.stageId)).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val c = countersOf(spanOfStage(e.stageId))
        c.tasks.incrementAndGet()
        c.taskMs.addAndGet(m.executorRunTime)
        c.taskGcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.diskBytesSpilled)
        c.input.addAndGet(m.inputMetrics.bytesRead)
        c.output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private def spanOfStage(stage: Int): Int =
    Option(stageSpan.get(stage)).map(_.intValue).getOrElse(-1)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    listenerNs.addAndGet(System.nanoTime() - t0)
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as a span of `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val group = s"perfbench-$runId-$id"
      byGroup.put(group, id)
      stack.push((id, layer, name, System.nanoTime()))
      sc.setJobGroup(group, s"$layer: $name", interruptOnCancel = false)
      try body
      finally {
        val (_, l, n, t0) = stack.pop()
        spans += Span(id, l, n, parent, op, t0, System.nanoTime())
        stack.headOption match {
          case Some((p, pl, pn, _)) =>
            sc.setJobGroup(s"perfbench-$runId-$p", s"$pl: $pn", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attribute jobs run under another job group (a streaming query's run
    * id) to the innermost open span.
    */
  def bind(group: String): Unit =
    if (enabled && active) stack.headOption.foreach(s => byGroup.put(group, s._1))

  /** Wait until the listener has seen every event posted so far. The bus
    * drain is Spark-internal but public in bytecode; without it late task
    * events would miss the final counters.
    */
  def drain(): Unit = if (enabled) {
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => () }
  }

  /** The recorded spans with self times and counters, for reporting;
    * call after `drain`.
    */
  def view(): TraceView = {
    val all = spans.toSeq.sortBy(_.id)
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    def own(id: Int): Map[String, Long] =
      Option(counters.get(id)).map(_.toMap).getOrElse(new Counters().toMap)
    def incl(id: Int): Map[String, Long] =
      kids.getOrElse(id, Nil).map(c => incl(c.id)).foldLeft(own(id))(TraceView.add)
    TraceView(all,
      all.map(s => s.id -> (s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum)).toMap,
      all.map(s => s.id -> own(s.id)).toMap, all.map(s => s.id -> incl(s.id)).toMap,
      own(-1), listenerNs.get / 1e9)
  }
}

/** Spans plus, per span id: self seconds (duration minus direct
  * children), own counters and inclusive counters (with descendants).
  */
final case class TraceView(spans: Seq[Span], selfS: Map[Int, Double],
                           own: Map[Int, Map[String, Long]],
                           inclusive: Map[Int, Map[String, Long]],
                           unattributed: Map[String, Long], listenerS: Double) {
  def toJson(runId: String, extra: Seq[(String, Any)]): String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "run_id" -> runId, "op" -> s.op,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_s" -> selfS(s.id), "counters" -> own(s.id), "inclusive" -> inclusive(s.id)))
    }
    Json.obj(extra ++ Seq("run_id" -> runId, "unattributed" -> unattributed,
      "listener_s" -> listenerS, "spans" -> Json.arr(rows))).text
  }
}

object TraceView {
  def add(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
}

/** Just enough JSON writing for the result line and the span file. */
object Json {
  final case class Raw(text: String)
  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))
  def arr(vs: Seq[Any]): Raw = Raw(vs.map(value).mkString("[", ", ", "]"))
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).text
    case s: Seq[_] => arr(s).text
    case null => "null"
    case o => str(o.toString)
  }
}
