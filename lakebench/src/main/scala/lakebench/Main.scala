package lakebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  *   lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--work <dir>] [--plant wrong-answer|failure]
  *
  * One workload per JVM. The last stdout line is one JSON object:
  * `correct`, `attempted`, `failed` and `metrics` — the end-to-end
  * metrics untraced, the per-layer metrics traced. Lines before it
  * print every metric by name and unit, the input sizes and the tail
  * percentile. `--plant` exists for the harness's own tests: it
  * corrupts one result, or makes one op throw, to show both are
  * reported.
  */
object Main {

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
      work: String, plant: Option[String])

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (argv.length % 2 != 0) return Left("arguments come in --key value pairs")
    for {
      w <- kv.get("workload").flatMap(Workloads.byName)
        .toRight(s"--workload must be one of ${Workloads.all.map(_.name).mkString(", ")}")
      seed <- kv.get("seed").flatMap(_.toLongOption).toRight("--seed <integer> is required")
      secs <- kv.get("seconds").flatMap(_.toIntOption).filter(_ > 0).toRight("--seconds <positive integer> is required")
      trace <- kv.getOrElse("trace", "0") match {
        case "0" => Right(false); case "1" => Right(true); case _ => Left("--trace is 0 or 1")
      }
      plant <- kv.get("plant") match {
        case None => Right(None)
        case Some(p @ ("wrong-answer" | "failure")) => Right(Some(p))
        case Some(p) => Left(s"unknown --plant $p")
      }
    } yield Args(w, seed, secs, trace, kv.getOrElse("work", ".bench_build/lakebench/work"), plant)
  }

  def session(): SparkSession = {
    val k = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps up to 100k finished tasks by default,
      // trimmed in batches: a sawtooth in retained heap unrelated to
      // the engine. Keep it small.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.warehouse.dir", new File(".bench_build/lakebench/warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv) match {
      case Right(a) => a
      case Left(msg) => System.err.println(s"lakebench: $msg"); sys.exit(2)
    }
    val spark = session()
    val code = try {
      val result = run(spark, args)
      result.print(System.out)
      0
    } finally spark.stop()
    sys.exit(code)
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Used heap after a full GC: the least of three GC-then-read
    * samples, so allocations by Spark's background threads between a
    * GC and its reading do not count. */
  private def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

  final case class Result(workload: String, correct: Boolean, attempted: Int, failed: Int,
      endToEnd: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
      notes: Seq[String], trace: Boolean) {

    def json: String = {
      val ms = (if (trace) layers else endToEnd).filter(m => Result.declared(trace).contains(m._1))
      val body = ms.map { case (n, v, u) => s""""$n": {"value": ${Result.num(v)}, "unit": "$u"}""" }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
    }

    def print(out: java.io.PrintStream): Unit = {
      notes.foreach(n => out.println(s"[lakebench] $n"))
      endToEnd.foreach { case (n, v, u) => out.println(s"[lakebench] $workload $n = ${Result.num(v)} $u") }
      if (trace) layers.foreach { case (n, v, u) => out.println(s"[lakebench] $workload $n = ${Result.num(v)} $u") }
      out.println(json)
      out.flush()
    }
  }

  object Result {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else String.format(Locale.ROOT, "%.9g", Double.box(v)).trim
    /** The metrics the final JSON carries (BENCHMARK.json's lists). */
    def declared(trace: Boolean): Set[String] =
      if (trace) Layers.declared.map(_._1).toSet else EndToEnd.declared.toSet
  }

  /** The end-to-end metrics the JSON line carries. `retained_heap_mb`
    * is printed but not among them: across seeds it jumps between
    * ~90 and ~190 MiB on identical work (IQR 46% of the median over
    * ten runs), too unsteady for any bound. */
  object EndToEnd {
    val declared: Seq[String] = Seq("setup_s", "wall_s", "cpu_s", "rows_per_s", "ops_per_s",
      "op_p50_s", "op_tail_s")
  }

  def run(spark: SparkSession, a: Args): Result = {
    val w = a.workload
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val root = new File(a.work, s"${w.name}-${a.seed}-${ProcessHandle.current().pid()}").getAbsolutePath
    Fs.delete(root)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val rec = new Recorder(spark, tracer)
    try {
      // One untimed warm-up cycle on throwaway inputs of its own, so JIT
      // and codegen land in set-up rather than in the timed phase; then
      // the set-up whose inputs are timed.
      val ctx = Ctx(spark, a.seed, a.seconds, root, a.plant)
      val w0 = System.nanoTime()
      w.warmup(ctx, rec)
      val warmupS = (System.nanoTime() - w0) / 1e9
      val warmupOps = rec.opDurations
      val s0 = System.nanoTime()
      val inputs = w.setup(ctx, rec)
      val setupS = (System.nanoTime() - s0) / 1e9
      val setupFailed = rec.failed
      rec.reset()
      tracer.foreach(_.install())

      val bytes0 = Fs.hadoopBytesWritten()
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      w.run(ctx, rec)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val written = Fs.hadoopBytesWritten() - bytes0
      val heap = retainedHeapMb()

      val c0 = System.nanoTime()
      val mismatches = w.check(ctx)
      val checkS = (System.nanoTime() - c0) / 1e9
      val ops = rec.opDurations
      val (tailP, tailN, tailV) = Stats.tail(ops)
      val (rowCount, rowSecs) = w.rows
      val e2e = Seq(
        ("setup_s", sessionS + warmupS + setupS, "s"),
        ("wall_s", wall, "s"),
        ("cpu_s", cpu, "s"),
        ("rows_per_s", rowCount / rowSecs.getOrElse(wall), "1/s"),
        ("ops_per_s", ops.size / wall, "1/s"),
        ("op_p50_s", Stats.median(ops), "s"),
        ("op_tail_s", tailV, "s"),
        ("retained_heap_mb", heap, "MiB"),
        ("failed_op_ratio", (rec.failed + setupFailed).toDouble / rec.attempted, "ratio"),
        ("output_mismatches", mismatches.toDouble, "count"),
      ) ++ (if (w.writesTables) Seq(("write_amp", written.toDouble / inputs._2, "ratio")) else Nil) ++
        w.extraEndToEnd(ctx)

      val layers = if (a.trace) {
        val counters = tracer.get.counters(rec.spans.toSeq)
        val values = mutable.LinkedHashMap.empty[String, Double]
        rec.layerNames.foreach(n => values(n) = rec.layerSeconds(n))
        values ++= counters
        values ++= w.extraLayers(ctx, rec)
        if (w.writesTables) {
          values("lake.bytes_written") = written.toDouble
          values("lake.write_amp") = written.toDouble / inputs._2
        }
        values("trace.wall_s") = wall
        writeSpans(a, rec, counters)
        Layers.all.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      } else Nil

      val notes = Seq(
        s"workload ${w.name} seed ${a.seed} seconds ${a.seconds} trace ${if (a.trace) 1 else 0}",
        s"input rows ${inputs._1} bytes ${inputs._2}",
        s"setup session_s ${Result.num(sessionS)} warmup_s ${Result.num(warmupS)} " +
          s"inputs_s ${Result.num(setupS)}",
        s"warmup ops_s ${warmupOps.map(Result.num).mkString(" ")}",
        s"timed ops_s ${ops.map(Result.num).mkString(" ")}",
        s"check_s ${Result.num(checkS)}",
        s"op_tail_s is p$tailP with $tailN samples beyond it, of ${ops.size} ops",
      ) ++ rec.failures.map(f => s"failure $f")
      Result(w.name, mismatches == 0 && rec.failed == 0 && setupFailed == 0,
        rec.attempted, rec.failed, e2e, layers, notes, a.trace)
    } finally Fs.delete(root)
  }

  private def writeSpans(a: Args, rec: Recorder, counters: Map[String, Double]): Unit = {
    val f = new File(".bench_build/lakebench/traces", s"${a.workload.name}-seed${a.seed}.jsonl")
    f.getParentFile.mkdirs()
    val pw = new PrintWriter(f, "UTF-8")
    try {
      rec.spans.foreach { s =>
        pw.println(s"""{"span": ${s.id}, "name": "${s.name}", "op": ${s.opId}, "op_kind": "${s.opKind}", """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "seconds": ${Result.num(s.seconds)}}""")
      }
      counters.toSeq.sortBy(_._1).foreach { case (k, v) =>
        pw.println(s"""{"counter": "$k", "value": ${Result.num(v)}}""")
      }
    } finally pw.close()
  }
}
