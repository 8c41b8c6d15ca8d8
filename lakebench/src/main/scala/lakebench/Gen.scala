package lakebench

import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the engine sees is made here,
  * from `seed` alone: the same seed gives byte-identical CSV text and
  * row sequences, a different seed different ones. Nothing in this
  * file calls engine code, so a change to the engine cannot change a
  * workload's inputs.
  *
  * Each generator draws from its own stream (`seed` mixed with a
  * per-purpose salt), so adding a draw to one input leaves the others
  * unchanged.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val firstDay: LocalDate = LocalDate.of(2014, 11, 1)

  private def round2(x: Double): Double = math.rint(x * 100.0) / 100.0
  private def fmt2(x: Double): String = java.lang.String.format(java.util.Locale.ROOT, "%.2f", x)

  // ---- EV bronze CSV drops -------------------------------------------------

  val bronzeHeader: String =
    "sessionId,kwhTotal,dollars,created,ended,startTime,endTime,chargeTimeHrs,weekday," +
      "platform,distance,userId,stationId,locationId,managerVehicle,facilityType," +
      "Mon,Tues,Wed,Thurs,Fri,Sat,Sun,reportedZip"

  private val weekdays = Array("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
  private val oneHotNames = Array("Mon", "Tues", "Wed", "Thurs", "Fri", "Sat", "Sun")
  private val platforms = Array("android", "ios", "web")

  /** One bronze session as the reference's CSV carries it, before any
    * cleaning. `sessionId` None is the NULL-id quirk. */
  final case class Bronze(
      sessionId: Option[Int], kwhTotal: Double, dollars: Double,
      created: LocalDateTime, ended: LocalDateTime, mangleYear: Boolean,
      chargeTimeHrs: Double, weekday: String, platform: String,
      distance: Option[Double], userId: Int, stationId: Int, locationId: Int,
      managerVehicle: Int, facilityType: Int, reportedZip: Int) {

    private def ts(t: LocalDateTime): String = {
      val s = t.format(tsFmt)
      if (mangleYear) "00" + s.substring(2) else s
    }

    def csvLine: String = {
      val hot = oneHotNames.indices.map(i =>
        if (oneHotNames(i).take(3) == weekday.take(3)) "1" else "0")
      (Seq(sessionId.fold("")(_.toString), fmt2(kwhTotal), fmt2(dollars), ts(created), ts(ended),
        created.getHour.toString, ended.getHour.toString, fmt2(chargeTimeHrs), weekday, platform,
        distance.fold("NA")(fmt2), userId.toString, stationId.toString, locationId.toString,
        managerVehicle.toString, facilityType.toString) ++ hot :+ reportedZip.toString).mkString(",")
    }
  }

  /** `days` daily drops of `rowsPerDay` sessions each, in the
    * reference's quirk mix:
    *  - ~31% "NA" distances (1,065 of 3,395 rows in the reference);
    *  - ~40% `0014`/`0015` year-mangled timestamps;
    *  - ~2% off-domain facility codes, ~1% NULL ids, ~2% end <= start,
    *    ~1% zero energy and ~1% negative charges;
    *  - ~5% of each day after the first resend a session from an
    *    earlier day with corrected values, so gold merges match rows
    *    in older partitions. A resent session is never resent twice
    *    in one drop, so keys are unique within a drop. */
  def evDays(seed: Long, days: Int, rowsPerDay: Int, idBase: Int = 1000000): Seq[Seq[Bronze]] = {
    val r = rng(seed, 0xE1L)
    val users = math.max(50, rowsPerDay / 4)
    val stations = math.max(20, rowsPerDay / 20)
    var nextId = idBase
    val sent = ArrayBuffer.empty[Bronze]
    (0 until days).map { d =>
      val day = firstDay.plusDays(d.toLong)
      val resends = if (d == 0) 0 else math.min(sent.size, rowsPerDay / 20)
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < resends) picked += r.nextInt(sent.size)
      val corrected = picked.toSeq.map { i =>
        val o = sent(i)
        val kwh = round2(o.kwhTotal.abs + 0.5 + r.nextInt(300) / 100.0)
        o.copy(kwhTotal = kwh, dollars = round2(kwh * 0.2),
          distance = Some(round2(1.0 + r.nextInt(4000) / 100.0)))
      }
      val fresh = (0 until rowsPerDay - resends).map { _ =>
        val id = nextId; nextId += 1
        val start = day.atTime(6 + r.nextInt(16), r.nextInt(60), r.nextInt(60))
        val hrs = round2(0.2 + r.nextInt(580) / 100.0)
        val endBeforeStart = r.nextInt(100) < 2
        val end =
          if (endBeforeStart) start.minusMinutes(r.nextInt(30).toLong)
          else start.plusSeconds((hrs * 3600).toLong)
        val kwh = if (r.nextInt(100) == 0) 0.0 else round2(hrs * (2.0 + r.nextInt(400) / 100.0))
        val dollars = if (r.nextInt(100) == 0) -1.0 else round2(kwh * (r.nextInt(40) / 100.0))
        val station = r.nextInt(stations)
        val b = Bronze(
          sessionId = if (r.nextInt(100) == 0) None else Some(id),
          kwhTotal = kwh, dollars = dollars, created = start, ended = end,
          mangleYear = r.nextInt(10) < 4, chargeTimeHrs = hrs,
          weekday = weekdays(day.getDayOfWeek.getValue - 1),
          platform = platforms(r.nextInt(platforms.length)),
          distance = if (r.nextInt(100) < 31) None else Some(round2(0.5 + r.nextInt(4000) / 100.0)),
          userId = 10000 + r.nextInt(users), stationId = 500 + station,
          locationId = 40 + station % 37, managerVehicle = r.nextInt(2),
          facilityType = if (r.nextInt(50) == 0) 5 else 1 + r.nextInt(4),
          reportedZip = r.nextInt(2))
        if (b.sessionId.isDefined) sent += b
        b
      }
      // resends interleave with fresh rows at seeded positions
      val all = ArrayBuffer.from(fresh)
      corrected.foreach(c => all.insert(r.nextInt(all.size + 1), c))
      all.toSeq
    }
  }

  def csvBytes(rows: Seq[Bronze]): Array[Byte] =
    (bronzeHeader + "\n" + rows.map(_.csvLine).mkString("", "\n", "\n"))
      .getBytes(StandardCharsets.UTF_8)

  // ---- gold-shaped session rows (DML and read workloads) ------------------

  val goldSchema: StructType = StructType(Seq(
    StructField("sessionId", StringType), StructField("userId", StringType),
    StructField("stationId", StringType), StructField("locationId", StringType),
    StructField("kwhTotal", DoubleType), StructField("dollars", DoubleType),
    StructField("distance", DoubleType), StructField("chargeTimeHrs", DoubleType),
    StructField("facilityType", StringType), StructField("platform", StringType),
    StructField("weekday", StringType), StructField("created", TimestampType),
    StructField("ended", TimestampType), StructField("session_duration_minutes", DoubleType),
    StructField("avg_cost_per_kwh", DoubleType), StructField("event_date", DateType)))

  private val facilities = Array("Manufacturing", "Office", "Research and Development", "Other")
  private val weekdayNames =
    Array("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")

  /** Clean gold rows: session ids `idFrom until idFrom + n`, spread
    * over `days` days from [[firstDay]]. `stations`/`users` size the
    * key domains the DML predicates draw from. */
  def goldRows(r: SplittableRandom, idFrom: Int, n: Int, days: Int,
      users: Int, stations: Int): IndexedSeq[Row] =
    (0 until n).map { i =>
      val day = firstDay.plusDays(r.nextInt(days).toLong)
      val start = day.atTime(6 + r.nextInt(16), r.nextInt(60), r.nextInt(60))
      val mins = 12 + r.nextInt(340)
      val end = start.plusMinutes(mins.toLong)
      val kwh = round2(0.5 + r.nextInt(2500) / 100.0)
      val dollars = round2(kwh * (r.nextInt(40) / 100.0))
      val station = r.nextInt(stations)
      Row((idFrom + i).toString, (10000 + r.nextInt(users)).toString,
        (500 + station).toString, (40 + station % 37).toString,
        kwh, dollars, round2(0.5 + r.nextInt(4000) / 100.0), round2(mins / 60.0),
        facilities(r.nextInt(4)), platforms(r.nextInt(3)),
        weekdayNames(day.getDayOfWeek.getValue - 1),
        java.sql.Timestamp.valueOf(start), java.sql.Timestamp.valueOf(end),
        mins.toDouble, dollars / kwh, java.sql.Date.valueOf(day))
    }

  /** A stable text form of rows, for determinism checks. */
  def rowsBytes(rows: Seq[Row]): Array[Byte] =
    rows.map(_.mkString("\u0001")).mkString("\n").getBytes(StandardCharsets.UTF_8)

  // ---- TPC-H-shaped tables for the relational queries ---------------------

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  final case class Tpch(lineitem: Seq[Row], orders: Seq[Row], customer: Seq[Row], events: Seq[Row])

  def tpch(seed: Long, customers: Int): Tpch = {
    val r = rng(seed, 0x7C4L)
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = (1 to customers).map { c =>
      Row(c.toLong, f"Customer#$c%09d", r.nextInt(25), round2(r.nextInt(1000000) / 100.0 - 999.99),
        segments(r.nextInt(segments.length)))
    }
    val base = LocalDateTime.of(1992, 1, 1, 0, 0)
    val orders = ArrayBuffer.empty[Row]
    val lineitem = ArrayBuffer.empty[Row]
    (1 to customers * 10).foreach { o =>
      val od = base.plusDays(r.nextInt(2400).toLong)
      var total = 0.0
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        val price = round2(qty * (900 + r.nextInt(100000) / 100.0))
        val ship = od.plusDays(1 + r.nextInt(120).toLong)
        val rf = if (ship.isBefore(LocalDateTime.of(1995, 6, 17, 0, 0))) (if (r.nextBoolean()) "R" else "A") else "N"
        val ls = if (ship.isBefore(LocalDateTime.of(1995, 6, 17, 0, 0))) "F" else "O"
        total += price
        lineitem += Row(o.toLong, (1 + r.nextInt(20000)).toLong, (1 + r.nextInt(1000)).toLong, ln,
          qty, price, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, rf, ls, java.sql.Timestamp.valueOf(ship))
      }
      orders += Row(o.toLong, (1 + r.nextInt(customers)).toLong, if (r.nextBoolean()) "F" else "O",
        round2(total), java.sql.Timestamp.valueOf(od), s"${1 + r.nextInt(5)}-PRIORITY")
    }
    val evTypes = Array("signup", "view", "click", "purchase")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val events = (1 to customers * 12).map { e =>
      Row(e.toLong, java.sql.Timestamp.valueOf(t0.plusSeconds(r.nextInt(90 * 86400).toLong)),
        (1 + r.nextInt(customers)).toLong, evTypes(r.nextInt(evTypes.length)),
        round2(r.nextInt(100000) / 100.0), "{}")
    }
    Tpch(lineitem.toSeq, orders.toSeq, customer, events)
  }

  // ---- documents and embeddings --------------------------------------------

  private val stop: Map[String, Array[String]] = Map(
    "en" -> Array("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Array("el", "que", "y", "los", "en", "del", "las"),
    "fr" -> Array("le", "et", "les", "des", "un", "une", "du"),
    "de" -> Array("der", "die", "und", "das", "ist", "von", "mit"))
  private val langs = Array("en", "es", "fr", "de")

  final case class Docs(rows: Seq[Row], exactCopies: Int, nearPairs: Seq[(Long, Long)])

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang_hint", StringType),
    StructField("text", StringType)))

  /** `n` documents: random content words over a fixed vocabulary mixed
    * with one language's stopwords. Of them, `exactCopies` are verbatim
    * copies of earlier documents and `nearPairs.size` are copies with
    * one word in twenty replaced. Base documents are distinct by
    * construction (each carries its own serial token). */
  def docs(seed: Long, n: Int): Docs = {
    val r = rng(seed, 0xD0CL)
    val vocab = Array.tabulate(3000)(i => {
      val sb = new StringBuilder
      var x = i + 7
      while (sb.length < 4 + i % 5) { sb.append(('a' + x % 26).toChar); x = x / 26 + i * 31 % 97 + 1 }
      sb.toString
    })
    val texts = ArrayBuffer.empty[(String, String)]
    var exact = 0
    val near = ArrayBuffer.empty[(Long, Long)]
    while (texts.size < n) {
      val id = texts.size.toLong
      val roll = r.nextInt(100)
      if (texts.size > 10 && roll < 8) {
        val src = r.nextInt(texts.size)
        texts += texts(src); exact += 1
      } else if (texts.size > 10 && roll < 14) {
        val src = r.nextInt(texts.size)
        val words = texts(src)._2.split(" ")
        var i = 0
        while (i < words.length) { if (i % 20 == 7) words(i) = vocab(r.nextInt(vocab.length)); i += 1 }
        texts += texts(src)._1 -> words.mkString(" ")
        near += (src.toLong -> id)
      } else {
        val lang = langs(r.nextInt(langs.length))
        val len = 60 + r.nextInt(120)
        val words = (0 until len).map { i =>
          if (i == 0) s"doc${id}x" else if (r.nextInt(4) == 0) stop(lang)(r.nextInt(7))
          else vocab(r.nextInt(vocab.length))
        }
        texts += lang -> words.mkString(" ")
      }
    }
    Docs(texts.zipWithIndex.map { case ((l, t), i) => Row(i.toLong, l, t) }.toSeq, exact, near.toSeq)
  }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** `n` vectors of dimension `dim` around `clusters` seeded centres
    * (unit-variance centres, noise sd 0.25), so IVF cells are real. */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int): Seq[Row] = {
    val r = rng(seed, 0xE3BL)
    def gauss(): Double = {
      // Box-Muller on the seeded stream
      val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centres = Array.fill(clusters, dim)(gauss())
    (0 until n).map { i =>
      val c = centres(r.nextInt(clusters))
      Row(i.toLong, c.map(x => (x + 0.25 * gauss()).toFloat).toSeq)
    }
  }
}
