package perfbench

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: its span name, wall seconds, and the error class
  * if it failed. */
final case class Sample(name: String, seconds: Double, error: Option[String])

/** State of one benchmark run: the session, the trace, every operation
  * attempted, the correctness checks and the metrics reported. */
final class Run(
    val workload: String, val seed: Long, val seconds: Double,
    val trace: Trace, val dir: String) {

  var spark: SparkSession = _
  val samples = mutable.ArrayBuffer[Sample]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  /** Results to compare against the DuckDB oracle after the run:
    * (query, parquet output dir, oracle SQL), over `oracleTables`. */
  val oracle = mutable.ArrayBuffer[(String, String, String)]()
  var oracleTables: String = _

  def traced: Boolean = trace.enabled

  /** Heap still in use after a full collection, taken once at the end of
    * the batch phase (outside every timed region): the data the batch
    * keeps, such as cached frames and state held in the JVM. */
  def retainedHeapMb(): Double = {
    // Collect twice: state released through weak references (broadcast
    // and shuffle cleanup) is only dropped after the first collection.
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Time `body` as one operation (and one span). Success or failure is
    * recorded either way; a failure is returned, not thrown. */
  def op[T](name: String)(body: => T): (Double, Try[T]) = {
    val t0 = System.nanoTime()
    val r = Try(trace.span(name)(body))
    val s = (System.nanoTime() - t0) / 1e9
    samples += Sample(name, s, r.failed.toOption.map(_.getClass.getName))
    (s, r)
  }

  /** [[op]] for a step later steps depend on: a failure ends the workload. */
  def step[T](name: String)(body: => T): (Double, T) = {
    val (s, r) = op(name)(body)
    (s, r.get)
  }

  /** Median seconds of the operations named `name`; a failed sample
    * counts as infinitely slow, so failures are never dropped. */
  def median(name: String): Double =
    Stats.median(samples.filter(_.name == name).map(s =>
      if (s.error.isEmpty) s.seconds else Double.PositiveInfinity).toSeq)

  /** Repeat `body` as operation `name` in a closed loop (the next call
    * starts when the previous one returns) until `budget` seconds have
    * passed, and at least `min` times. */
  def loop(name: String, budget: Double, min: Int)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < budget) {
      op(name)(body)
      i += 1
    }
  }

  /** Wall seconds of `body`, run as a span (untimed as an operation). */
  def spanSeconds(name: String)(body: => Any): Double = {
    val t0 = System.nanoTime()
    trace.span(name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  private val createdNs = System.nanoTime()

  /** Log where the run is, with seconds since the run began (stderr). */
  def note(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - createdNs) / 1e9}%7.2f s] $msg")

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Build then run a DataFrame to the noop sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
