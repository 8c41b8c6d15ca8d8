package lakebench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Times the benchmark's operations and the layer calls inside them.
  *
  * An op is one closed-loop unit a user would wait for (a nightly
  * batch, a DML statement, a query); its wall time feeds the op
  * percentiles. A layer call is one public engine call inside an op,
  * timed under a metric name such as `lake.merge_s`. An exception in
  * either is counted as a failed op and printed with its stack trace;
  * it is never swallowed.
  *
  * With a [[Tracer]], every layer call is also a span: the call's
  * Spark jobs carry a per-span job tag, so the tracer attributes jobs,
  * tasks, executor CPU, shuffle bytes and planning time to the call
  * exactly, not by time overlap.
  */
final class Recorder(spark: SparkSession, tracer: Option[Tracer]) {
  import Recorder.Span

  private val opSeconds = ArrayBuffer.empty[Double]
  private val layerTotals = mutable.LinkedHashMap.empty[String, Double]
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val failures: ArrayBuffer[String] = ArrayBuffer.empty
  var attempted = 0
  var failed = 0
  private var opId = 0
  private var opKind = ""
  private var spanId = 0

  /** Run one op; None when it threw. */
  def op[T](kind: String)(body: => T): Option[T] = {
    opId += 1
    opKind = kind
    attempted += 1
    val t0 = System.nanoTime()
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"op $opId ($kind): $e"
        System.err.println(s"[lakebench] op $opId ($kind) failed")
        e.printStackTrace(System.err)
        None
    } finally {
      opSeconds += (System.nanoTime() - t0) / 1e9
      opKind = ""
    }
  }

  /** Time one layer call under `name` (a per-layer metric name). */
  def layer[T](name: String)(body: => T): T = {
    spanId += 1
    val id = spanId
    val tag = Tracer.tagOf(id)
    tracer.foreach(_ => spark.sparkContext.addJobTag(tag))
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_ => spark.sparkContext.removeJobTag(tag))
      layerTotals(name) = layerTotals.getOrElse(name, 0.0) + s
      if (tracer.isDefined)
        spans += Span(id, name, opId, opKind, wall0, System.currentTimeMillis(), s)
    }
  }

  def opDurations: Seq[Double] = opSeconds.toSeq
  def layerSeconds(name: String): Double = layerTotals.getOrElse(name, 0.0)
  def layerNames: Seq[String] = layerTotals.keys.toSeq

  /** Forget everything recorded so far (used after warm-up). */
  def reset(): Unit = {
    opSeconds.clear(); layerTotals.clear(); spans.clear(); failures.clear()
    attempted = 0; failed = 0
  }
}

object Recorder {
  final case class Span(id: Int, name: String, opId: Int, opKind: String,
      startMs: Long, endMs: Long, seconds: Double)
}

object Stats {
  /** Linear-interpolated quantile of an unsorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentile: the highest whole percentile with at least
    * 10 samples beyond it. Below 20 samples that percentile would sit
    * under the median, so the tail is then the maximum. Returns
    * (percentile, samples beyond it, value). */
  def tail(xs: Seq[Double]): (Int, Int, Double) = {
    val n = xs.size
    if (n < 20) (100, 0, xs.max)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val beyond = n - math.ceil(n * p / 100.0).toInt
      (p, beyond, quantile(xs, p / 100.0))
    }
  }
}
