package argobench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the Spark jobs started inside one span did, summed over tasks. */
final class Counters {
  var jobs, tasks, runMs, cpuNs, gcMs = 0L
  var shuffleBytes, spillBytes, inputBytes, resultBytes = 0L
}

/** One closed span. `parent` is -1 for a root. */
final case class Span(run: String, id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans at the layer boundaries of the pipeline, and — when `traced` —
  * the Spark counters of every job each span started.
  *
  * A job belongs to the span that is open on the driver thread when the
  * job is submitted: the span id rides along as a local property, which
  * Spark copies into the job's properties (also for jobs it submits from
  * its own threads on behalf of the query, such as broadcast builds).
  * Untraced, spans are two clock reads and nothing is registered. */
final class Tracer(spark: SparkSession, run: String, val traced: Boolean)
    extends SparkListener {
  import Tracer.Prop

  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val closed = ArrayBuffer[Span]()
  private var nextId = 0
  private var open = List.empty[Int]

  if (traced) spark.sparkContext.addSparkListener(this)

  def spans: Seq[Span] = closed.toSeq

  /** Run `body` inside a span named `name`, child of the innermost open one. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Prop)
    open = id :: open
    if (traced) sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      closed += Span(run, id, name, parent, t0, System.nanoTime())
      open = open.tail
      if (traced) sc.setLocalProperty(Prop, outer)
    }
  }

  /** Counters of span `id`; complete once the tracer is closed. */
  def counters(id: Int): Counters = Option(counters.get(id)).getOrElse(new Counters)

  /** Stop listening, once every event posted so far is handled. */
  def close(): Unit = if (traced) {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { s =>
      val id = s.toInt
      e.stageIds.foreach(st => stageSpan.putIfAbsent(st, id))
      val c = counters.computeIfAbsent(id, _ => new Counters)
      c.synchronized(c.jobs += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (id != null && m != null) {
      val c = counters.computeIfAbsent(id, _ => new Counters)
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.resultBytes += m.resultSize
      }
    }
  }

  /** Wall time of span `s` not covered by its children. */
  def selfS(s: Span): Double = {
    val kids = closed.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Every span as one JSON line, with its counters and self time. */
  def jsonLines(): Seq[String] = closed.sortBy(_.id).toSeq.map { s =>
    val c = counters(s.id)
    val fields = Seq(
      "run" -> Json.str(s.run), "id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> (if (s.parent < 0) "null" else s.parent.toString),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "wall_s" -> Json.num(s.wallS), "self_s" -> Json.num(selfS(s)),
      "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
      "task_s" -> Json.num(c.runMs / 1e3), "cpu_s" -> Json.num(c.cpuNs / 1e9),
      "gc_s" -> Json.num(c.gcMs / 1e3), "shuffle_bytes" -> c.shuffleBytes.toString,
      "spill_bytes" -> c.spillBytes.toString, "input_bytes" -> c.inputBytes.toString,
      "result_bytes" -> c.resultBytes.toString)
    Json.obj(fields)
  }
}

object Tracer {
  val Prop = "argobench.span"
}

/** The few JSON shapes the benchmark prints. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
