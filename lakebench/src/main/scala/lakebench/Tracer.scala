package lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.LakebenchListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.LakebenchSqlEvents
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Runtime counters for the traced run: one SparkListener (jobs,
  * tasks, executor CPU, shuffle bytes) and one QueryExecutionListener
  * (analysis + optimization + planning time from each query's
  * tracker). Jobs and queries are attributed to the layer call whose
  * job tag ([[tagOf]]) they carry; the tag is a thread-local Spark
  * property, so jobs started by the call's helper threads (broadcasts,
  * subqueries, a streaming query it starts) carry it too. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer.Job

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val execQuery = new ConcurrentHashMap[Long, QueryExecution]()
  private val planMsByQuery = new ConcurrentHashMap[QueryExecution, Long]()
  private val tasks = new ConcurrentHashMap[Int, Array[Long]]() // span -> [tasks, cpuNs, shuffleBytes]

  private def spanOf(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(Tracer.Prefix) => t.stripPrefix(Tracer.Prefix).toInt }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    spanOf(tags).foreach { s =>
      jobs.put(e.jobId, Job(s, e.time, e.time))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { job =>
      val acc = tasks.computeIfAbsent(job.span, _ => new Array[Long](3))
      acc.synchronized {
        acc(0) += 1
        Option(e.taskMetrics).foreach { m =>
          acc(1) += m.executorCpuTime
          acc(2) += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      spanOf(s.jobTags).foreach(span => execSpan.put(s.executionId, span))
    case e: SparkListenerSQLExecutionEnd if execSpan.containsKey(e.executionId) =>
      LakebenchSqlEvents.queryOf(e).foreach(q => execQuery.put(e.executionId, q))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMsByQuery.put(qe, planMs(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planMsByQuery.put(qe, planMs(qe))

  private def planMs(qe: QueryExecution): Long =
    qe.tracker.phases.iterator
      .collect { case (p, s) if p != "parsing" => s.durationMs }.sum

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Per-call counters, summed over every span of each call name:
    * `<call>.plan_s`, `.jobs`, `.tasks`, `.exec_cpu_s`,
    * `.shuffle_bytes` and `.driver_gap_s` (call wall time minus the
    * union of its jobs' intervals). */
  def counters(spans: Seq[Recorder.Span]): Map[String, Double] = {
    LakebenchListenerBus.drain(spark.sparkContext)
    val jobsBySpan = jobs.values.asScala.groupBy(_.span)
    val planBySpan = execSpan.asScala.toSeq
      .flatMap { case (exec, span) =>
        Option(execQuery.get(exec)).flatMap(q => Option(planMsByQuery.get(q))).map(span -> _.longValue)
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    spans.foreach { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil).toSeq
      val t = Option(tasks.get(s.id)).getOrElse(new Array[Long](3))
      add(s"${s.name}.plan_s", planBySpan.getOrElse(s.id, 0L) / 1e3)
      add(s"${s.name}.jobs", js.size.toDouble)
      add(s"${s.name}.tasks", t(0).toDouble)
      add(s"${s.name}.exec_cpu_s", t(1) / 1e9)
      add(s"${s.name}.shuffle_bytes", t(2).toDouble)
      val busyMs = Tracer.unionMs(js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))))
      add(s"${s.name}.driver_gap_s", math.max(0.0, s.seconds - busyMs / 1e3))
    }
    out.toMap
  }
}

object Tracer {
  private final case class Job(span: Int, startMs: Long, var endMs: Long)

  val Prefix = "lakebench-span-"
  def tagOf(span: Int): String = s"$Prefix$span"

  /** Total length of the union of [start, end] intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
