package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.SnapshotTable

/** `ev_lake_dml`: a gold table (blooms on sessionId, files clustered by
  * sessionId) receives a seeded, sequential stream of small statements
  * — merges of staged correction batches for recent sessions, updates
  * by station and day, deletes of one user's sessions, key deletes,
  * change-feed reads of the last versions, a change-feed drain into a
  * downstream table and a compact + vacuum once in every 10
  * statements. One statement is one op. */
object LakeDml extends Workload {
  val name = "ev_lake_dml"
  val initialRows = 10000
  val initialFiles = 8
  val idBase = 100000 // six-digit ids: string order is numeric order
  val days = 20
  val users = 1000
  val stations = 150
  /** Statements in the timed stream, for a run of `seconds`: three
    * for every two seconds. With one a second (8 statements) the median
    * fell between the cheap and the dear statement kinds, and moved
    * with the seed by up to 20%. */
  def statements(seconds: Int): Int = math.max(5, seconds * 3 / 2)
  val keepVersions = 12

  sealed trait Stmt { def kind: String }
  final case class Merge(rows: IndexedSeq[Row]) extends Stmt { def kind = "merge" }
  final case class Update(station: String, date: java.sql.Date) extends Stmt { def kind = "update" }
  final case class Delete(user: String) extends Stmt { def kind = "delete" }
  final case class DeleteKeys(keys: IndexedSeq[String]) extends Stmt { def kind = "delete_keys" }
  case object Changes extends Stmt { def kind = "changes" }
  case object Drain extends Stmt { def kind = "drain" }
  case object Maintain extends Stmt { def kind = "compact_vacuum" }

  /** The statement kinds, in order, repeated: the same for every seed,
    * so seeds vary the statements' arguments but not the mix. */
  val pattern: IndexedSeq[String] = IndexedSeq("merge", "update", "merge", "delete", "drain",
    "delete_keys", "changes", "compact_vacuum", "merge", "merge")

  /** The generated inputs of one table: its initial rows and the
    * statement stream, with merge and key-delete sources staged as
    * parquet under `dir/src/stmt=<i>`. */
  final case class Plan(dir: String, initial: IndexedSeq[Row], stmts: IndexedSeq[Stmt]) {
    val table = s"$dir/gold"
    val downstream = s"$dir/downstream"
    val ckpt = s"$dir/_drain_ckpt"
    def source(i: Int): String = s"$dir/src/stmt=$i"
    var baseVersion = 0L
  }

  def plan(seed: Long, dir: String, rows: Int, nDays: Int, kinds: Seq[String]): Plan = {
    val r = Gen.rng(seed, 0xD31L)
    val initial = Gen.goldRows(r, idBase, rows, nDays, users, stations)
    var nextId = idBase + rows
    var merges = 0
    var lastSize = 0
    val totalMerges = kinds.count(_ == "merge")
    val stmts = kinds.map {
      case "merge" =>
        // 100-1,000 rows, and every two merges 1,100 rows (a last,
        // unpaired merge 550), so the merged volume of a run does not
        // depend on the seed
        val size =
          if (merges % 2 == 1) 1100 - lastSize
          else if (merges == totalMerges - 1) 550
          else 100 + r.nextInt(901)
        merges += 1; lastSize = size
        // corrections (40-80%) of recent sessions, plus new sessions
        val recent = (nextId - idBase) / 4
        val updates = math.min(recent, size * (40 + r.nextInt(41)) / 100)
        val keys = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (keys.size < updates) keys += nextId - 1 - r.nextInt(recent)
        val fresh = Gen.goldRows(r, nextId, size - keys.size, nDays, users, stations)
        nextId += fresh.size
        val corrected = Gen.goldRows(r, 0, keys.size, nDays, users, stations)
          .zip(keys.toSeq).map { case (row, key) => Row.fromSeq(key.toString +: row.toSeq.tail) }
        Merge(corrected ++ fresh)
      case "update" =>
        Update((500 + r.nextInt(stations)).toString,
          java.sql.Date.valueOf(Gen.firstDay.plusDays(r.nextInt(nDays).toLong)))
      case "delete" => Delete((10000 + r.nextInt(users)).toString)
      case "delete_keys" =>
        DeleteKeys((0 until 20 + r.nextInt(60)).map(_ => (idBase + r.nextInt(nextId - idBase)).toString).distinct)
      case "changes" => Changes
      case "drain" => Drain
      case _ => Maintain
    }
    Plan(dir, initial, stmts.toIndexedSeq)
  }

  /** Create the table (blooms on sessionId; two appends of files
    * range-clustered by sessionId) and stage the statement sources as
    * parquet. Returns the staged source bytes. */
  def build(spark: SparkSession, p: Plan): Long = {
    SnapshotTable.create(spark, p.table, Gen.goldSchema)
    SnapshotTable.setBloomColumns(spark, p.table, Seq("sessionId"))
    p.initial.grouped((p.initial.size + 1) / 2).foreach { part =>
      SnapshotTable.append(spark.createDataFrame(spark.sparkContext.parallelize(part, 2), Gen.goldSchema)
        .repartitionByRange(initialFiles / 2, col("sessionId")), p.table)
    }
    p.baseVersion = SnapshotTable.latestVersion(spark, p.table).get
    val staged = p.stmts.zipWithIndex.flatMap {
      case (Merge(rows), i) => rows.map(r => Row.fromSeq(i +: r.toSeq))
      case (DeleteKeys(keys), i) =>
        keys.map(k => Row.fromSeq(i +: k +: Seq.fill(Gen.goldSchema.size - 1)(null)))
      case _ => Nil
    }
    if (staged.nonEmpty) {
      val schema = Gen.goldSchema.fields.foldLeft(
        new org.apache.spark.sql.types.StructType().add("stmt", "int"))(_ add _)
      spark.createDataFrame(spark.sparkContext.parallelize(staged, 1), schema)
        .write.partitionBy("stmt").parquet(s"${p.dir}/src")
    }
    Fs.bytesUnder(s"${p.dir}/src")
  }

  def execute(spark: SparkSession, rec: Recorder, p: Plan, i: Int, plant: Option[String]): Unit = {
    if (plant.contains("failure") && i == 1) throw new IllegalStateException("planted failure")
    p.stmts(i) match {
      case Merge(_) => rec.layer("lake.merge_s") {
        SnapshotTable.merge(spark.read.parquet(p.source(i)), p.table, Seq("sessionId"))
      }
      case Update(station, date) => rec.layer("lake.update_s") {
        SnapshotTable.update(spark, p.table, Seq("dollars" -> (col("dollars") + 0.25)),
          col("stationId") === station && col("event_date") === lit(date))
      }
      case Delete(user) => rec.layer("lake.delete_s") {
        SnapshotTable.delete(spark, p.table, col("userId") === user)
      }
      case DeleteKeys(_) => rec.layer("lake.delete_s") {
        SnapshotTable.deleteKeys(spark.read.parquet(p.source(i)).select("sessionId"),
          p.table, Seq("sessionId"))
      }
      case Changes => rec.layer("lake.changes_s") {
        val v = SnapshotTable.latestVersion(spark, p.table).get
        SnapshotTable.changes(spark, p.table, math.max(p.baseVersion, v - 2), v).collect()
      }
      case Drain => rec.layer("sources.cdc_drain_s") {
        spark.readStream.format("graft-changes")
          .option("startingVersion", (p.baseVersion + 1).toString).load(p.table)
          .writeStream.format("graft-snapshot").option("checkpointLocation", p.ckpt)
          .trigger(Trigger.AvailableNow()).start(p.downstream)
          .awaitTermination()
      }
      case Maintain => rec.layer("lake.maintenance_s") {
        SnapshotTable.compact(spark, p.table, numFiles = initialFiles)
        SnapshotTable.vacuum(spark, p.table, keepVersions = keepVersions)
      }
    }
  }

  private var current: Plan = _
  private var sourceRows = 0L

  def setup(ctx: Ctx, rec: Recorder): (Long, Long) = {
    current = plan(ctx.seed, ctx.dir, initialRows, days,
      (0 until statements(ctx.seconds)).map(i => pattern(i % pattern.size)))
    val bytes = build(ctx.spark, current)
    sourceRows = current.stmts.collect { case Merge(r) => r.size; case DeleteKeys(k) => k.size }.sum.toLong
    (sourceRows, bytes)
  }

  /** One merge, update, delete and change read on a small throwaway
    * table of its own. The other kinds run on the same rewrite and
    * commit code; warming them too would add ~11 s a run (the drain
    * alone 7.6 s, mostly streaming start-up that a warm JVM pays
    * again) to a run budget that has no room for it. */
  def warmup(ctx: Ctx, rec: Recorder): Unit = {
    val kinds = Seq("merge", "update", "delete", "changes")
    val p = plan(ctx.seed + 1, ctx.path("warmup"), initialRows / 4, days, kinds)
    build(ctx.spark, p)
    kinds.indices.foreach(i => rec.op(s"warmup_${kinds(i)}")(execute(ctx.spark, rec, p, i, None)))
  }

  def run(ctx: Ctx, rec: Recorder): Unit =
    current.stmts.indices.foreach { i =>
      rec.op(current.stmts(i).kind)(execute(ctx.spark, rec, current, i, ctx.plant))
    }

  // ---- reference answer: a plain-Scala replay of the same statements ------

  private var affected = 0L
  private var spaceAmp = 0.0
  private var filesLive = 0.0
  private var versions = 0.0

  /** Replays the statement list over a map keyed by sessionId. Returns
    * (final rows, rows at the last drain or None, rows affected). */
  def replay(p: Plan): (Seq[Row], Option[Seq[Row]], Long) = {
    val state = mutable.LinkedHashMap.from(p.initial.map(r => r.getString(0) -> r))
    var drained: Option[Seq[Row]] = None
    var n = 0L
    val dollars = Gen.goldSchema.fieldIndex("dollars")
    p.stmts.foreach {
      case Merge(rows) => rows.foreach(r => state(r.getString(0)) = r); n += rows.size
      case Update(station, date) =>
        state.foreach { case (k, r) =>
          if (r.getString(2) == station && r.getDate(15) == date) {
            state(k) = Row.fromSeq(r.toSeq.updated(dollars, r.getDouble(dollars) + 0.25)); n += 1
          }
        }
      case Delete(user) =>
        val gone = state.collect { case (k, r) if r.getString(1) == user => k }
        state --= gone; n += gone.size
      case DeleteKeys(keys) =>
        val gone = keys.filter(state.contains); state --= gone; n += gone.size
      case Drain => drained = Some(state.values.toSeq)
      case Changes | Maintain =>
    }
    (state.values.toSeq, drained, n)
  }

  /** Net rows of a change feed applied on top of `initial`: +1 per
    * insert or post-image, -1 per delete or pre-image. */
  def applyChanges(initial: Seq[Row], changes: Seq[Row]): Seq[Row] = {
    def key(r: Row) = r.toSeq.map(String.valueOf).mkString("\u0001")
    val count = mutable.HashMap.empty[String, (Row, Int)]
    def add(r: Row, d: Int): Unit = {
      val k = key(r)
      count(k) = (r, count.get(k).fold(0)(_._2) + d)
    }
    initial.foreach(add(_, 1))
    changes.foreach { c =>
      val row = Row.fromSeq(c.toSeq.take(Gen.goldSchema.size))
      c.getAs[String]("_change_type") match {
        case "insert" | "update_postimage" => add(row, 1)
        case "delete" | "update_preimage" => add(row, -1)
      }
    }
    count.values.toSeq.flatMap { case (r, m) => Seq.fill(math.max(0, m))(r) } ++
      count.values.filter(_._2 < 0).map(_._1) // a negative count is a mismatch, kept visible
  }

  def check(ctx: Ctx): Int = {
    val spark = ctx.spark
    val p = current
    val (want, wantDrained, n) = replay(p)
    affected = n
    val cols = Gen.goldSchema.fieldNames.map(col).toSeq
    val got0 = SnapshotTable.read(spark, p.table).select(cols: _*).collect().toSeq
    val got = if (ctx.plant.contains("wrong-answer")) got0.drop(1) else got0
    val mismatches = mutable.ArrayBuffer.empty[String]
    if (!Compare.sameRows(got, want, ordered = false)) mismatches += "final table"
    wantDrained.foreach { w =>
      val feed = SnapshotTable.read(spark, p.downstream)
        .select((cols :+ col("_change_type")): _*).collect().toSeq
      if (!Compare.sameRows(applyChanges(p.initial, feed), w, ordered = false))
        mismatches += "downstream table"
    }
    val live = SnapshotTable.liveFiles(spark, p.table)
    filesLive = live.size.toDouble
    spaceAmp = Fs.bytesUnder(p.table).toDouble / Fs.fileBytes(live)
    versions = SnapshotTable.latestVersion(spark, p.table).get.toDouble
    mismatches.foreach(m => System.err.println(s"[lakebench] $name mismatch: $m"))
    mismatches.size
  }

  def rows: (Long, Option[Double]) = (affected, None)
  override def writesTables: Boolean = true

  override def extraEndToEnd(ctx: Ctx): Seq[(String, Double, String)] =
    Seq(("space_amp", spaceAmp, "ratio"))

  override def extraLayers(ctx: Ctx, rec: Recorder): Map[String, Double] = Map(
    "lake.space_amp" -> spaceAmp, "lake.files_live" -> filesLive, "lake.versions" -> versions)
}
