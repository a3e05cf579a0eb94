package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener counters for one span: everything Spark reports about the
  * jobs submitted while the span was the innermost open one. */
final class Counters {
  var jobs, stages, tasks, retries = 0L
  var runMs, cpuNs, gcMs, schedMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"retries":$retries,""" +
      s""""run_ms":$runMs,"cpu_ns":$cpuNs,"gc_ms":$gcMs,"sched_ms":$schedMs,""" +
      s""""shuffle_write_b":$shuffleWrite,"shuffle_read_b":$shuffleRead,""" +
      s""""spill_b":$spill,"input_b":$input,"output_b":$output}"""
}

/** Attributes every job, stage and task to the span id carried in the
  * job's `perfbench.span` local property. Events arrive on one listener
  * bus thread; [[Tracer.drain]] waits for it before spans are read. */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageSubmit =
    new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  private def counters(span: String): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  private def spanOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Prop)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      counters(s).jobs += 1
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stageSubmit.put((info.stageId, info.attemptNumber()),
      Long.box(info.submissionTime.getOrElse(System.currentTimeMillis())))
    Option(stageSpan.get(info.stageId)).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = counters(s)
      c.tasks += 1
      if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful)
        c.retries += 1
      val submitted = stageSubmit.get((e.stageId, e.stageAttemptId))
      if (submitted != null)
        c.schedMs += math.max(0L, e.taskInfo.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
}

/** One timed interval at a layer boundary. `fs` holds what the span
  * left on disk (files, bytes, new artifact `_SUCCESS` markers); only
  * op spans fill it. */
final case class Span(id: String, parent: String, pass: Int, traced: Boolean,
    layer: String, name: String, module: String, start: Long, var end: Long,
    var ok: Boolean = true, var fs: Option[FsDelta] = None)

final case class FsDelta(files: Long, bytes: Long, artifacts: Long)

/** Span recorder. With tracing off it only keeps op spans (their times
  * are the end-to-end samples); with it on, every span also tags the
  * jobs it submits so [[SpanListener]] can attribute their counters. */
final class Tracer(sc: SparkContext, runId: String, t0: Long) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0
  var pass = 0
  var on = false
  /** The most recently opened op span. */
  var lastOp: Span = _
  val listener = new SpanListener
  sc.addSparkListener(listener)

  def apply[T](layer: String, name: String, module: String = "")(
      body: => T): T = {
    if (!on && layer != "op") return body
    nextId += 1
    val parent = stack.headOption
    val s = Span(s"$runId-$nextId", parent.map(_.id).getOrElse(""), pass, on,
      layer, name, module, System.nanoTime() - t0, 0L)
    spans += s
    if (layer == "op") lastOp = s
    stack = s :: stack
    if (on) sc.setLocalProperty(Tracer.Prop, s.id)
    try body
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      s.end = System.nanoTime() - t0
      stack = stack.tail
      if (on) sc.setLocalProperty(Tracer.Prop, parent.map(_.id).orNull)
    }
  }

  def passSpans(p: Int): Seq[Span] = spans.filter(_.pass == p).toSeq

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def jsonl: Iterator[String] = spans.iterator.map { s =>
    val c = Option(listener.bySpan.get(s.id)).map(_.json).getOrElse("null")
    val fs = s.fs.map(f =>
      s"""{"files":${f.files},"bytes":${f.bytes},"artifacts":${f.artifacts}}""")
      .getOrElse("null")
    s"""{"run":${Json.str(runId)},"id":${Json.str(s.id)},""" +
      s""""parent":${Json.str(s.parent)},"pass":${s.pass},""" +
      s""""traced":${s.traced},"layer":${Json.str(s.layer)},""" +
      s""""name":${Json.str(s.name)},"module":${Json.str(s.module)},""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"ok":${s.ok},""" +
      s""""counters":$c,"fs":$fs}"""
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

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
}
