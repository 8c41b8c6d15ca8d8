package lakebench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** What a run knows: the session, the seed, the run length asked for,
  * and a directory of its own. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, dir: String,
    plant: Option[String]) {
  def path(rel: String): String = new File(dir, rel).getAbsolutePath
}

/** One benchmark workload. [[Main]] calls, in order: [[warmup]] (one
  * untimed cycle on throwaway inputs of its own), [[setup]] (inputs
  * and any initial tables), [[run]] (the timed, fixed work, on the
  * set-up's inputs), then [[check]] (untimed, against answers computed
  * without the code under test). */
trait Workload {
  def name: String
  /** Write every input for `ctx.seed` under `ctx.dir`; returns the
    * generated (rows, bytes) of user input. */
  def setup(ctx: Ctx, rec: Recorder): (Long, Long)
  def warmup(ctx: Ctx, rec: Recorder): Unit
  def run(ctx: Ctx, rec: Recorder): Unit
  /** Number of output mismatches against the reference answers. */
  def check(ctx: Ctx): Int
  /** Items for `rows_per_s` and the seconds they are divided by
    * (None = the whole timed phase). */
  def rows: (Long, Option[Double])
  /** Whether the timed phase writes tables (for `write_amp`). */
  def writesTables: Boolean = false
  /** Workload-specific end-to-end figures (name -> (value, unit)). */
  def extraEndToEnd(ctx: Ctx): Seq[(String, Double, String)] = Nil
  /** Workload-specific per-layer figures that are not call timings. */
  def extraLayers(ctx: Ctx, rec: Recorder): Map[String, Double] = Map.empty
}

/** The per-layer metrics of a traced run, with their units: layer-call
  * timings, workload figures that are not timings, and six runtime
  * counters per call. A run prints all of them; a layer the workload
  * never calls reads 0. */
object Layers {
  val calls: Seq[String] = Seq(
    "etl.clean_s", "etl.gold_s", "dq.verify_s", "lake.append_s",
    "lake.merge_s", "lake.update_s", "lake.delete_s", "lake.changes_s",
    "lake.maintenance_s", "sources.cdc_drain_s",
    "lake.read_plan_s", "lake.scan_s", "ops.relational_s",
    "ops.curate_s", "ops.ivf_build_s", "ops.ann_query_s")

  val figures: Seq[(String, String)] = Seq(
    "etl.quarantine_ratio" -> "ratio",
    "lake.files_scanned_ratio" -> "ratio",
    "lake.rows_scanned_per_row" -> "ratio",
    "lake.bytes_written" -> "bytes",
    "lake.files_live" -> "count",
    "lake.versions" -> "count",
    "lake.write_amp" -> "ratio",
    "lake.space_amp" -> "ratio",
    "ops.ann_rows_scanned_per_result" -> "ratio",
    "ops.recall_at_10" -> "ratio",
    "trace.wall_s" -> "s")

  val counters: Seq[(String, String)] = Seq(
    "plan_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "exec_cpu_s" -> "s", "shuffle_bytes" -> "bytes", "driver_gap_s" -> "s")

  val all: Seq[(String, String)] =
    calls.map(_ -> "s") ++ figures ++
      calls.flatMap(c => counters.map { case (k, u) => s"$c.$k" -> u })

  /** Metrics (with their counters) that read 0 on every workload of
    * BENCHMARK.json: those only `ev_lake_reads` produces, and the
    * shuffle bytes of appends, which do not shuffle. The result line
    * leaves them out; a traced run still prints them. */
  val ungated: Seq[String] = Seq("lake.read_plan_s", "lake.scan_s", "ops.relational_s",
    "lake.files_scanned_ratio", "lake.rows_scanned_per_row", "lake.append_s.shuffle_bytes")

  /** The per-layer metrics the result line carries (BENCHMARK.json's). */
  val declared: Seq[(String, String)] =
    all.filterNot { case (n, _) => ungated.exists(r => n == r || n.startsWith(r + ".")) }
}

object Workloads {
  val all: Seq[Workload] = Seq(Ingest, LakeDml, LakeReads, DocsCuration)
  /** The workloads of BENCHMARK.json, in its order. */
  val gated: Seq[Workload] = Seq(Ingest, LakeDml, DocsCuration)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

object Fs {
  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((q: Path) => Files.deleteIfExists(q))
      finally s.close()
    }
  }

  def write(path: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** Bytes written through Hadoop's local file system so far — the
    * route every parquet, manifest and checkpoint write takes. */
  def hadoopBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Bytes of the given data files. */
  def fileBytes(files: Seq[String]): Long =
    files.map(f => new File(new java.net.URI(f).getPath)).map(_.length).sum
}

/** Plan introspection for the scan metrics of a materialized query. */
object Plans {
  def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case _ if p.children.isEmpty => Seq(p)
    case _ => p.children.flatMap(leaves)
  }

  /** (files, rows) read by the scans of an executed frame. Read once
    * per frame: a re-execution resets the metrics. */
  def scanned(df: DataFrame): (Long, Long) = {
    val scans = leaves(df.queryExecution.executedPlan).filter(_.metrics.contains("numFiles"))
    (scans.map(_.metrics("numFiles").value).sum, scans.map(_.metrics("numOutputRows").value).sum)
  }
}

/** Result comparison shared by the checks: rows compare field by
  * field, doubles to a relative 1e-9 (the reference may sum in
  * another order). */
object Compare {
  /** One row (rows, hash): the row count and the exact sum of each
    * row's xxhash64 over `cols` — an order-independent fingerprint
    * that still reads every value of every row. */
  def fingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    df.select(xxhash64(cols.map(col): _*).cast(dec).as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(sum("h"), lit(0).cast(dec)).as("hash"))
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Row, y: Row) => rowsEqual(x, y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }

  def rowsEqual(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall(i => close(a.get(i), b.get(i)))

  /** Equal as sequences (`ordered`) or as multisets. */
  def sameRows(got: Seq[Row], want: Seq[Row], ordered: Boolean): Boolean = {
    def key(r: Row) = r.toSeq.map(String.valueOf).mkString("\u0001")
    val (g, w) = if (ordered) (got, want) else (got.sortBy(key), want.sortBy(key))
    g.size == w.size && g.zip(w).forall { case (x, y) => rowsEqual(x, y) }
  }
}
