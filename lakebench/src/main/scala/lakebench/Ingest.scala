package lakebench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dq.IncrementalDq
import graft.etl.{EvPipeline, SilverClean}
import graft.lake.SnapshotTable
import graft.model.EvSchemas

/** `ev_nightly_ingest`: a backfill over daily bronze EV-session CSV
  * drops. Each day: read + normalize + tag quarantine reasons, split,
  * append silver and quarantine (partitioned by event_date), verify
  * the new silver commit, merge the new rows into gold by sessionId.
  * Days depend on each other in order; one day is one op. */
object Ingest extends Workload {
  val name = "ev_nightly_ingest"
  val rowsPerDay = 3000
  /** Days in the timed backfill, for a run of `seconds`: one for every
    * two seconds. */
  def days(seconds: Int): Int = math.max(2, seconds / 2)

  private var dayFiles: Seq[String] = Nil
  private var bronzeRows = 0L

  private final case class Tables(dir: String) {
    val silver = s"$dir/silver"
    val quarantine = s"$dir/quarantine"
    val gold = s"$dir/gold"
    val dqCkpt = s"$dir/_dq_ckpt"
    val dqMetrics = s"$dir/_dq_metrics"
    val goldCkpt = s"$dir/_gold_ckpt"
  }

  private def writeDays(dir: String, drops: Seq[Seq[Gen.Bronze]]): Seq[String] =
    drops.zipWithIndex.map { case (rows, d) =>
      val f = f"$dir/bronze/day$d%03d.csv"
      Fs.write(f, Gen.csvBytes(rows))
      f
    }

  def setup(ctx: Ctx, rec: Recorder): (Long, Long) = {
    val drops = Gen.evDays(ctx.seed, days(ctx.seconds), rowsPerDay)
    dayFiles = writeDays(ctx.dir, drops)
    bronzeRows = drops.map(_.size.toLong).sum
    (bronzeRows, dayFiles.map(f => new java.io.File(f).length).sum)
  }

  def warmup(ctx: Ctx, rec: Recorder): Unit = {
    // two small drops: after one, timed days still ran ~1.6x slower and
    // twice as unsteady (ten-seed IQR 29% of the median against 19%)
    val files = writeDays(ctx.path("warmup"), Gen.evDays(ctx.seed + 1, 2, 500, idBase = 5000000))
    val t = Tables(ctx.path("warmup/tables"))
    files.foreach(f => rec.op("warmup_day")(day(ctx.spark, rec, f, t)))
  }

  def run(ctx: Ctx, rec: Recorder): Unit = {
    val t = Tables(ctx.path("tables"))
    dayFiles.zipWithIndex.foreach { case (f, d) =>
      rec.op("day") {
        if (ctx.plant.contains("failure") && d == 1) throw new IllegalStateException("planted failure")
        day(ctx.spark, rec, f, t)
      }
    }
  }

  private def day(spark: SparkSession, rec: Recorder, csv: String, t: Tables): Unit = {
    val cleaned = rec.layer("etl.clean_s") {
      val df = SilverClean.withQuarantineReasons(SilverClean.normalize(
        SilverClean.readBronzeCsv(spark, csv, EvSchemas.bronze))).persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    try {
      val (good, bad) = rec.layer("etl.clean_s")(SilverClean.split(cleaned))
      rec.layer("lake.append_s") {
        SnapshotTable.append(good, t.silver, Seq("event_date"))
        SnapshotTable.append(bad, t.quarantine, Seq("event_date"))
      }
    } finally cleaned.unpersist()
    rec.layer("dq.verify_s") {
      IncrementalDq.run(spark, t.silver, t.dqCkpt, t.dqMetrics, Seq(SilverClean.silverCheck))
    }
    rec.layer("etl.gold_s")(EvPipeline.runGoldIncremental(spark, t.silver, t.gold, t.goldCkpt))
    ()
  }

  def rows: (Long, Option[Double]) = (bronzeRows, None)
  override def writesTables: Boolean = true

  // ---- reference answer: plain Spark over the same bronze files -----------

  private val bronzeDdl =
    "sessionId INT, kwhTotal DOUBLE, dollars DOUBLE, created STRING, ended STRING, " +
      "startTime INT, endTime INT, chargeTimeHrs DOUBLE, weekday STRING, platform STRING, " +
      "distance STRING, userId INT, stationId INT, locationId INT, managerVehicle INT, " +
      "facilityType INT, Mon INT, Tues INT, Wed INT, Thurs INT, Fri INT, Sat INT, Sun INT, reportedZip INT"

  val goldCols: Seq[String] = Seq("sessionId", "userId", "stationId", "locationId",
    "kwhTotal", "dollars", "distance", "chargeTimeHrs", "facilityType", "platform", "weekday",
    "created", "ended", "event_date", "session_duration_minutes", "avg_cost_per_kwh")

  /** (good rows, bad rows, gold fingerprint) computed from the bronze files
    * with Spark SQL written here, not with the engine's cleaning code:
    * the reference's cleaning rules, then the latest good row per
    * sessionId (later drop first, then created and ended, descending). */
  def reference(spark: SparkSession, files: Seq[String]): (Long, Long, Row) = {
    val raw = files.zipWithIndex.map { case (f, d) =>
      spark.read.option("header", "true").schema(bronzeDdl).csv(f).withColumn("_day", lit(d))
    }.reduce(_ unionByName _)
    def repairTs(c: String) =
      expr(s"try_to_timestamp(CASE WHEN substring($c, 1, 2) = '00' " +
        s"THEN concat('20', substring($c, 3, 14)) ELSE $c END)")
    val clean = raw.select(
      col("_day"),
      col("sessionId").cast("string").as("sessionId"), col("userId").cast("string").as("userId"),
      col("stationId").cast("string").as("stationId"), col("locationId").cast("string").as("locationId"),
      col("kwhTotal"), col("dollars"), expr("try_cast(distance AS DOUBLE)").as("distance"),
      col("chargeTimeHrs"),
      expr("CASE facilityType WHEN 1 THEN 'Manufacturing' WHEN 2 THEN 'Office' " +
        "WHEN 3 THEN 'Research and Development' WHEN 4 THEN 'Other' " +
        "ELSE cast(facilityType AS STRING) END").as("facilityType"),
      col("platform"),
      expr("CASE weekday WHEN 'Mon' THEN 'Monday' WHEN 'Tue' THEN 'Tuesday' " +
        "WHEN 'Wed' THEN 'Wednesday' WHEN 'Thu' THEN 'Thursday' WHEN 'Fri' THEN 'Friday' " +
        "WHEN 'Sat' THEN 'Saturday' WHEN 'Sun' THEN 'Sunday' ELSE weekday END").as("weekday"),
      repairTs("created").as("created"), repairTs("ended").as("ended"))
      .withColumn("event_date", to_date(col("created")))
      .persist(StorageLevel.MEMORY_ONLY)
    val good = clean.filter(
      "sessionId IS NOT NULL AND userId IS NOT NULL AND stationId IS NOT NULL AND " +
        "locationId IS NOT NULL AND kwhTotal > 0 AND dollars >= 0 AND distance >= 0 AND " +
        "chargeTimeHrs > 0 AND facilityType IN ('Manufacturing', 'Office', " +
        "'Research and Development', 'Other') AND created IS NOT NULL AND " +
        "ended IS NOT NULL AND ended > created")
    val w = Window.partitionBy("sessionId")
      .orderBy(col("_day").desc, col("created").desc, col("ended").desc)
    val gold = good.withColumn("_rn", row_number().over(w)).filter("_rn = 1")
      .withColumn("session_duration_minutes",
        (unix_timestamp(col("ended")) - unix_timestamp(col("created"))) / lit(60.0))
      .withColumn("avg_cost_per_kwh", when(col("kwhTotal") > 0, col("dollars") / col("kwhTotal")))
      .select(goldCols.map(col): _*)
    try {
      val nGood = good.count()
      (nGood, clean.count() - nGood, Compare.fingerprint(gold, goldCols).head())
    } finally clean.unpersist()
  }

  private var quarantineRatio = 0.0
  private var spaceAmp = 0.0
  private var filesLive = 0.0
  private var versions = 0.0

  def check(ctx: Ctx): Int = {
    val spark = ctx.spark
    val t = Tables(ctx.path("tables"))
    val (wantGood, wantBad, want) = reference(spark, dayFiles)
    val goldNow = SnapshotTable.read(spark, t.gold)
    val got = Compare.fingerprint(
      if (ctx.plant.contains("wrong-answer")) goldNow.limit(math.max(0, goldNow.count().toInt - 1))
      else goldNow, goldCols).head()
    val silverRows = SnapshotTable.count(spark, t.silver)
    val badRows = SnapshotTable.count(spark, t.quarantine)
    quarantineRatio = badRows.toDouble / bronzeRows
    val all = Seq(t.silver, t.quarantine, t.gold)
    val live = all.map(p => SnapshotTable.liveFiles(spark, p))
    filesLive = live.map(_.size).sum.toDouble
    spaceAmp = all.map(Fs.bytesUnder).sum.toDouble / live.map(Fs.fileBytes).sum
    versions = all.map(p => SnapshotTable.latestVersion(spark, p).getOrElse(0L)).sum.toDouble
    val checks = Seq(
      "gold rows and hash" -> (got == want),
      "silver rows" -> (silverRows == wantGood),
      "quarantine rows" -> (badRows == wantBad))
    checks.collect { case (what, false) =>
      System.err.println(s"[lakebench] $name mismatch: $what"); 1
    }.sum
  }

  override def extraEndToEnd(ctx: Ctx): Seq[(String, Double, String)] =
    Seq(("space_amp", spaceAmp, "ratio"))

  override def extraLayers(ctx: Ctx, rec: Recorder): Map[String, Double] = Map(
    "etl.quarantine_ratio" -> quarantineRatio, "lake.space_amp" -> spaceAmp,
    "lake.files_live" -> filesLive, "lake.versions" -> versions)
}
