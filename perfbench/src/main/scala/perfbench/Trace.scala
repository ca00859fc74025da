package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work counted by the listener: jobs, completed stages, tasks,
  * task run time and the bytes tasks moved. */
final class Counts {
  var jobs, stages, tasks, runMs, shuffleBytes, spillBytes, inputBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }

  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_ms" -> runMs, "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes)
}

/** One layer call: its own counts are the Spark work whose jobs started
  * while it was the innermost open span. */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  var endNs = 0L
  var error: String = null
  val counts = new Counts
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around every call the benchmark makes into a layer, plus a
  * `SparkListener` whose counts are attributed to those spans through a
  * job-local property. Disabled (tracing off) it adds no listener and
  * `span` is a plain call, so untraced runs measure the program alone.
  * Spans stay in memory and are written once, at the end. */
final class Trace(val enabled: Boolean, val runId: String) {
  private val SpanKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var spark: SparkSession = _
  /** Work not started under any span (session set-up, inputs). */
  val unattributed = new Counts

  def attach(session: SparkSession): Unit = if (enabled) {
    spark = session
    session.sparkContext.addSparkListener(new SparkListener {
      private def owner(props: java.util.Properties): Option[Span] =
        Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(id => spans.synchronized(spans(id.toInt)))
      private def countsOf(s: Option[Span]): Counts = s.map(_.counts).getOrElse(unattributed)

      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = owner(e.properties)
        countsOf(s).jobs += 1
        s.foreach(sp => e.stageIds.foreach(st => stageSpan.put(st, sp)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        countsOf(Option(stageSpan.get(e.stageInfo.stageId))).stages += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val c = countsOf(Option(stageSpan.get(e.stageId)))
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
        }
      }
    })
  }

  /** Run `body` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = spans.synchronized {
        val sp = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
        spans += sp
        sp
      }
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(SpanKey)
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      catch {
        case e: Throwable =>
          s.error = e.getClass.getName
          throw e
      } finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanKey, outer)
      }
    }

  /** Deliver pending listener events; call before reading counts. */
  def drain(): Unit = if (enabled) PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  private def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Duration minus the time covered by child spans (children run on the
    * calling thread, one after another, so they never overlap). */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Counts of `s` and every span below it. */
  def inclusive(s: Span): Counts = {
    val c = new Counts
    c.add(s.counts)
    children(s).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** Everything the listener saw in this run. */
  def total: Counts = {
    val c = new Counts
    c.add(unattributed)
    all.foreach(s => c.add(s.counts))
    c
  }

  def toJson(meta: Map[String, Any]): String = Json(meta ++ Map(
    "run_id" -> runId,
    "spans" -> all.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
        "seconds" -> s.seconds, "self_s" -> selfSeconds(s),
        "error" -> s.error) ++ s.counts.toMap
    }))
}

/** Minimal JSON rendering of maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => apply(x)
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
