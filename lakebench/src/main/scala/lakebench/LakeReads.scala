package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.SnapshotTable
import graft.ops.Relational

/** `ev_lake_reads`: a gold table built from several commits is queried
  * in a seeded mix — point lookups, a user-history scan no pruning
  * helps, 1–7 day range aggregations for the reference's README
  * metrics, a time-travel read, and relational queries over generated
  * TPC-H-shaped tables. Every result is fully materialized; one query
  * is one op. No commits happen in the timed phase. */
object LakeReads extends Workload {
  val name = "ev_lake_reads"
  val rowsPerCommit = 10000
  val commits = 4
  val days = 20
  val users = 1500
  val stations = 200
  val customers = 1000
  /** Queries in the timed mix: about two per second of run time. */
  def queries(seconds: Int): Int = math.max(12, 2 * seconds)
  /** The version the time-travel query reads (after this many commits). */
  val travelCommits = 2

  sealed trait Query { def kind: String }
  final case class Point(id: String) extends Query { def kind = "point" }
  final case class UserHistory(user: String) extends Query { def kind = "user_history" }
  final case class Range(metric: Int, from: java.sql.Date, to: java.sql.Date) extends Query { def kind = "range_agg" }
  case object TimeTravel extends Query { def kind = "time_travel" }
  final case class Rel(q: Int) extends Query { def kind = "relational" }

  val relNames: IndexedSeq[String] = IndexedSeq("tpchQ1", "joinAggTopk", "asofJoinNative", "windowRank")

  private var dir = ""
  private var mix: IndexedSeq[Query] = IndexedSeq.empty
  private var travelVersion = 0L
  private var liveFiles = 0L
  private val results = mutable.ArrayBuffer.empty[(Query, Seq[Row])]
  private var scannedFiles = 0L
  private var scannedRows = 0L
  private var resultRows = 0L
  private var lakeQueries = 0L

  def table: String = s"$dir/gold"
  def plain: String = s"$dir/plain"
  def tpch: String = s"$dir/tpch"

  /** The query kinds, in order, repeated: the same for every seed, so
    * seeds vary the arguments but not the mix. */
  val pattern: IndexedSeq[String] = IndexedSeq("point", "range_agg", "point", "user_history",
    "range_agg", "relational", "point", "range_agg", "time_travel", "range_agg", "point", "relational")

  def mixOf(seed: Long, n: Int, maxId: Int): IndexedSeq[Query] = {
    val r = Gen.rng(seed, 0x8EADL)
    def day(d: Int) = java.sql.Date.valueOf(Gen.firstDay.plusDays(d.toLong))
    var rel = r.nextInt(relNames.size)
    var metric = r.nextInt(4)
    (0 until n).map(i => pattern(i % pattern.size) match {
      case "point" => Point(r.nextInt(maxId).toString)
      case "user_history" => UserHistory((10000 + r.nextInt(users)).toString)
      case "range_agg" =>
        val len = 1 + r.nextInt(7); val from = r.nextInt(days - len + 1)
        metric = (metric + 1) % 4
        Range(metric, day(from), day(from + len - 1))
      case "time_travel" => TimeTravel
      case _ => rel = (rel + 1) % relNames.size; Rel(rel)
    })
  }

  def setup(ctx: Ctx, rec: Recorder): (Long, Long) = {
    val spark = ctx.spark
    results.clear()
    dir = ctx.dir
    val r = Gen.rng(ctx.seed, 0x8EAL)
    val batches = (0 until commits).map(c =>
      Gen.goldRows(r, c * rowsPerCommit, rowsPerCommit, days, users, stations))
    SnapshotTable.create(spark, table, Gen.goldSchema)
    SnapshotTable.setBloomColumns(spark, table, Seq("sessionId"))
    batches.zipWithIndex.foreach { case (b, c) =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(b, 1), Gen.goldSchema)
      SnapshotTable.append(df, table, Seq("event_date"))
      if (c + 1 == travelCommits) travelVersion = SnapshotTable.latestVersion(spark, table).get
      // the plain copy carries the commit number, for the time-travel answer
      df.withColumn("_commit", lit(c + 1)).write.mode("append").parquet(plain)
    }
    liveFiles = SnapshotTable.liveFiles(spark, table).size.toLong
    val t = Gen.tpch(ctx.seed, customers)
    def save(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType, n: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$tpch/$n.parquet")
    save(t.lineitem, Gen.lineitemSchema, "lineitem")
    save(t.orders, Gen.ordersSchema, "orders")
    save(t.customer, Gen.customerSchema, "customer")
    save(t.events, Gen.eventsSchema, "events")
    mix = mixOf(ctx.seed, queries(ctx.seconds), commits * rowsPerCommit)
    val rows = commits.toLong * rowsPerCommit + t.lineitem.size + t.orders.size + t.customer.size + t.events.size
    (rows, Fs.bytesUnder(plain) + Fs.bytesUnder(tpch))
  }

  /** One query of each shape, on throwaway inputs from a set-up of its
    * own (the next seed's); [[Main]] runs the timed set-up after it. */
  def warmup(ctx: Ctx, rec: Recorder): Unit = {
    setup(ctx.copy(seed = ctx.seed + 1, dir = ctx.path("warmup")), rec)
    val warm = Seq(Point("7"), UserHistory("10001"),
      Range(0, java.sql.Date.valueOf(Gen.firstDay), java.sql.Date.valueOf(Gen.firstDay.plusDays(2))),
      Range(1, java.sql.Date.valueOf(Gen.firstDay), java.sql.Date.valueOf(Gen.firstDay)),
      Range(2, java.sql.Date.valueOf(Gen.firstDay), java.sql.Date.valueOf(Gen.firstDay)),
      Range(3, java.sql.Date.valueOf(Gen.firstDay), java.sql.Date.valueOf(Gen.firstDay)),
      TimeTravel) ++ relNames.indices.map(Rel)
    warm.foreach(q => rec.op(s"warmup_${q.kind}")(execute(ctx.spark, rec, q)))
    results.clear(); scannedFiles = 0; scannedRows = 0; resultRows = 0; lakeQueries = 0
  }

  /** The README metrics over one frame of gold rows. */
  def rangeMetric(df: DataFrame, metric: Int): DataFrame = metric match {
    case 0 => // average session duration per location
      df.groupBy("locationId").agg(round(avg("session_duration_minutes"), 4).as("avg_minutes"))
        .orderBy("locationId")
    case 1 => // peak start hour per station
      val w = org.apache.spark.sql.expressions.Window.partitionBy("stationId")
        .orderBy(col("n").desc, col("hour").asc)
      df.groupBy(col("stationId"), hour(col("created")).as("hour")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w)).filter("rn = 1").drop("rn").orderBy("stationId")
    case 2 => // platform share
      df.groupBy("platform").agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n") / sum("n").over(), 6)).orderBy("platform")
    case _ => // station utilization: charging hours per station-hour
      df.select(col("stationId"),
        explode(sequence(hour(col("created")), hour(col("ended")))).as("hour"))
        .groupBy("stationId", "hour").agg(count(lit(1)).as("sessions"))
        .orderBy("stationId", "hour")
  }

  private def rangePred(q: Range): Column = col("event_date").between(lit(q.from), lit(q.to))

  private def lakeFrame(spark: SparkSession, q: Query): DataFrame = q match {
    case Point(id) => SnapshotTable.readWhere(spark, table, col("sessionId") === id)
    case UserHistory(u) => SnapshotTable.readWhere(spark, table, col("userId") === u)
      .select("sessionId", "created", "stationId", "kwhTotal", "dollars")
    case r: Range => rangeMetric(SnapshotTable.readWhere(spark, table, rangePred(r)), r.metric)
    // a large result: every row is read through the fingerprint aggregate
    case TimeTravel => Compare.fingerprint(SnapshotTable.read(spark, table, Some(travelVersion)),
      Gen.goldSchema.fieldNames.toSeq)
    case Rel(_) => throw new IllegalArgumentException("not a lake query")
  }

  def execute(spark: SparkSession, rec: Recorder, q: Query): Unit = {
    val out = q match {
      case Rel(i) => rec.layer("ops.relational_s") {
        val df = relNames(i) match {
          case "tpchQ1" => Relational.tpchQ1(spark, tpch)
          case "joinAggTopk" => Relational.joinAggTopk(spark, tpch)
          case "asofJoinNative" => Relational.asofJoinNative(spark, tpch)
          case _ => Relational.windowRank(spark, tpch)
        }
        df.collect().toSeq
      }
      case _ =>
        val df = lakeFrame(spark, q)
        rec.layer("lake.read_plan_s")(df.queryExecution.executedPlan)
        val rows = rec.layer("lake.scan_s")(df.collect().toSeq)
        if (q != TimeTravel) {
          val (files, scanned) = Plans.scanned(df)
          scannedFiles += files; scannedRows += scanned; resultRows += rows.size; lakeQueries += 1
        }
        rows
    }
    results += q -> out
  }

  def run(ctx: Ctx, rec: Recorder): Unit =
    mix.zipWithIndex.foreach { case (q, i) =>
      rec.op(q.kind) {
        if (ctx.plant.contains("failure") && i == 1) throw new IllegalStateException("planted failure")
        execute(ctx.spark, rec, q)
      }
    }

  // ---- reference answers: the same queries over plain parquet ------------

  def reference(spark: SparkSession, q: Query): Seq[Row] = {
    val gold = spark.read.parquet(plain)
    val df = q match {
      case Point(id) => gold.filter(col("sessionId") === id).drop("_commit")
      case UserHistory(u) => gold.filter(col("userId") === u)
        .select("sessionId", "created", "stationId", "kwhTotal", "dollars")
      case r: Range => rangeMetric(gold.filter(rangePred(r)), r.metric)
      case TimeTravel => Compare.fingerprint(gold.filter(col("_commit") <= travelCommits),
        Gen.goldSchema.fieldNames.toSeq)
      case Rel(i) => relationalReference(spark, relNames(i))
    }
    df.collect().toSeq
  }

  /** The relational queries restated in Spark SQL over the same files. */
  def relationalReference(spark: SparkSession, q: String): DataFrame = {
    Seq("lineitem", "orders", "customer", "events").foreach(t =>
      spark.read.parquet(s"$tpch/$t.parquet").createOrReplaceTempView(s"lb_$t"))
    spark.sql(q match {
      case "tpchQ1" =>
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
          | round(sum(l_extendedprice), 2) AS sum_base_price,
          | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          | round(avg(l_quantity), 4) AS avg_qty, round(avg(l_extendedprice), 4) AS avg_price,
          | round(avg(l_discount), 4) AS avg_disc, count(*) AS count_order
          |FROM lb_lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
      case "joinAggTopk" =>
        """SELECT o_orderkey, ((rev_e4 + 50) div 100) / 100.0D AS revenue FROM (
          |  SELECT o_orderkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
          |    (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_e4
          |  FROM lb_customer JOIN lb_orders ON c_custkey = o_custkey
          |  JOIN lb_lineitem ON o_orderkey = l_orderkey
          |  WHERE c_mktsegment = 'BUILDING' GROUP BY o_orderkey)
          |ORDER BY revenue DESC, o_orderkey ASC LIMIT 100""".stripMargin
      case "asofJoinNative" =>
        """SELECT p.event_id, p.user_id, p.ts AS purchase_ts, max(s.ts) AS last_signup_ts
          |FROM (SELECT event_id, user_id, ts FROM lb_events WHERE event_type = 'purchase') p
          |LEFT JOIN (SELECT DISTINCT user_id, ts FROM lb_events WHERE event_type = 'signup') s
          |  ON p.user_id = s.user_id AND s.ts <= p.ts
          |GROUP BY p.event_id, p.user_id, p.ts ORDER BY p.event_id""".stripMargin
      case _ =>
        """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
          |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          |  FROM lb_orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
    })
  }

  def check(ctx: Ctx): Int = {
    val answers = mutable.HashMap.empty[Query, Seq[Row]]
    val bad = results.zipWithIndex.count { case ((q, got0), i) =>
      val got = if (ctx.plant.contains("wrong-answer") && i == 0) got0 :+ Row("planted") else got0
      val want = answers.getOrElseUpdate(q, reference(ctx.spark, q))
      val ordered = q match { case Point(_) | UserHistory(_) => false; case _ => true }
      val ok = Compare.sameRows(got, want, ordered)
      if (!ok) System.err.println(s"[lakebench] $name mismatch: $q")
      !ok
    }
    bad
  }

  /** Result rows materialized, over all queries. */
  def rows: (Long, Option[Double]) = (results.map(_._2.size.toLong).sum, None)

  override def extraLayers(ctx: Ctx, rec: Recorder): Map[String, Double] = Map(
    "lake.files_scanned_ratio" -> scannedFiles.toDouble / (liveFiles * math.max(1L, lakeQueries)),
    "lake.rows_scanned_per_row" -> scannedRows.toDouble / math.max(1L, resultRows),
    "lake.files_live" -> liveFiles.toDouble,
    "lake.versions" -> SnapshotTable.latestVersion(ctx.spark, table).get.toDouble)
}
