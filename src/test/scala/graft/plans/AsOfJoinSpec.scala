package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model.Tables
import graft.ops.Relational

class AsOfJoinSpec extends SparkTestBase {

  private def purchases = Tables.events(spark, sf0001)
    .filter(col("event_type") === "purchase")
    .select(col("user_id"), col("ts").as("p_ts"), col("event_id"))

  private def signups = Tables.events(spark, sf0001)
    .filter(col("event_type") === "signup")
    .select(col("user_id"), col("ts").as("s_ts")).distinct()

  test("native as-of exec matches the union+window baseline exactly") {
    import spark.implicits._
    val native = AsOf.join(purchases, signups, "user_id", "p_ts", "s_ts")
      .select(col("event_id"), col("s_ts"))
      .as[(Long, Option[java.sql.Timestamp])].collect().toMap
    val baseline = Relational.asofJoin(spark, sf0001)
      .select(col("event_id"), col("last_signup_ts"))
      .as[(Long, Option[java.sql.Timestamp])].collect().toMap
    assert(native.keySet === baseline.keySet)
    baseline.foreach { case (id, want) =>
      assert(native(id) === want, s"event $id")
    }
  }

  test("physical plan is a single-pass merge after one exchange+sort per side") {
    val df = AsOf.join(purchases, signups, "user_id", "p_ts", "s_ts")
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan // unwrap AQE to see the physical operators
      case p => p
    }
    val execs = plan.collect { case e: AsOfJoinExec => e }
    assert(execs.size === 1, s"expected AsOfJoinExec in:\n$plan")
    val sorts = plan.collect { case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.size === 2, "one sort per side, no window buffering")
    // no Window operator anywhere — that's the point vs the baseline
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
  }

  test("left rows with no eligible right row get NULLs") {
    import spark.implicits._
    val l = Seq((1L, 100L, "a"), (1L, 50L, "b"), (2L, 10L, "c"))
      .toDF("k", "t", "tag")
      .select(col("k"), timestamp_seconds(col("t")).as("lt"), col("tag"))
    val r = Seq((1L, 60L, "x"), (3L, 1L, "y"))
      .toDF("k2", "t2", "rtag")
      .select(col("k2").as("k"), timestamp_seconds(col("t2")).as("rt"), col("rtag"))
      .withColumnRenamed("k", "k")
    val out = AsOf.join(l, r.withColumnRenamed("k", "k"), "k", "lt", "rt")
      .select("tag", "rtag").as[(String, Option[String])].collect().toMap
    assert(out("a") === Some("x")) // 60 <= 100
    assert(out("b") === None)      // 60 > 50
    assert(out("c") === None)      // key 2 has no right rows
  }

  test("ties at equal timestamps match (inclusive semantics)") {
    import spark.implicits._
    val l = Seq((1L, 60L, "a")).toDF("k", "t", "tag")
      .select(col("k"), timestamp_seconds(col("t")).as("lt"), col("tag"))
    val r = Seq((1L, 60L, "x")).toDF("k", "t", "rtag")
      .select(col("k"), timestamp_seconds(col("t")).as("rt"), col("rtag"))
    val out = AsOf.join(l, r, "k", "lt", "rt").select("rtag").head()
    assert(out.getString(0) === "x")
  }

  test("a session with the extensions plans as-of joins through one registered strategy") {
    // a genuinely new session: getOrCreate would return the shared one
    val prevDefault = org.apache.spark.sql.SparkSession.getDefaultSession
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .appName("asof-ext-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val l = Seq((1L, 60L, "a")).toDF("k", "t", "tag")
        .select(col("k"), timestamp_seconds(col("t")).as("lt"), col("tag"))
      val r = Seq((1L, 50L, "x")).toDF("k", "t", "rtag")
        .select(col("k"), timestamp_seconds(col("t")).as("rt"), col("rtag"))
      Seq(1, 2).foreach { _ =>
        assert(AsOf.join(l, r, "k", "lt", "rt").select("rtag").head().getString(0) === "x")
      }
      val n = s2.sessionState.planner.strategies.count(_ == AsOfJoinStrategy)
      assert(n === 1, s"AsOfJoinStrategy registered $n times")
    } finally {
      prevDefault.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
      prevActive.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
    }
  }
}
