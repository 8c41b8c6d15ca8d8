package lakebench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The harness reports what went wrong: a failed op counts in
  * `failed` with its exception printed, and a wrong answer makes the
  * result incorrect. Both are planted through a real workload run. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Main.session()
  private lazy val work = Files.createTempDirectory("lakebench-spec").toString

  override def afterAll(): Unit = {
    spark.stop()
    Fs.delete(work)
  }

  private def run(w: Workload, plant: Option[String]): Main.Result =
    Main.run(spark, Main.Args(w, seed = 3, seconds = 1, trace = false, work, plant))

  private val gated = Workloads.gated

  private def topKeys(json: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).fieldNames().asScala.toSet
  }

  test("an op that throws is counted as failed and reported, not swallowed") {
    val r = new Recorder(spark, None)
    val out = r.op("boom")(throw new IllegalStateException("planted"))
    assert(out.isEmpty)
    assert(r.attempted == 1 && r.failed == 1)
    assert(r.failures.head.contains("planted"))
    assert(r.op("fine")(42).contains(42))
    assert(r.attempted == 2 && r.failed == 1)
  }

  gated.foreach { w =>
    test(s"${w.name}: a planted wrong answer makes the run incorrect") {
      val res = run(w, Some("wrong-answer"))
      assert(!res.correct)
      assert(res.failed == 0, res.notes.mkString("\n"))
      assert(res.endToEnd.exists { case (n, v, _) => n == "output_mismatches" && v >= 1 })
      assert(res.json.startsWith("{\"correct\": false"))
    }

    test(s"${w.name}: a planted failure is counted in failed and makes the run incorrect") {
      val res = run(w, Some("failure"))
      assert(!res.correct)
      assert(res.failed == 1)
      assert(res.endToEnd.exists { case (n, v, _) => n == "failed_op_ratio" && v > 0 })
      assert(topKeys(res.json) == Set("correct", "attempted", "failed", "metrics"))
    }
  }

  test("the result line carries exactly the declared end-to-end metrics") {
    val res = run(DocsCuration, None)
    assert(res.correct, res.notes.mkString("\n"))
    Main.EndToEnd.declared.foreach(n => assert(res.json.contains(s""""$n": {"value": """), n))
    assert(!res.json.contains("output_mismatches"))
  }

  test("BENCHMARK.json declares the gated workloads and exactly the metrics the result line carries") {
    import scala.jdk.CollectionConverters._
    val bench = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = bench.get(key).elements().asScala.map(_.get("name").asText()).toSeq
    assert(names("workloads") == gated.map(_.name))
    assert(names("end_to_end") == Main.EndToEnd.declared)
    assert(names("per_layer") == Layers.declared.map(_._1))
  }

  test("tail percentile and interval union") {
    assert(Stats.tail(Seq(1.0, 5.0, 2.0)) == ((100, 0, 5.0)))
    val (p, beyond, _) = Stats.tail((1 to 100).map(_.toDouble))
    assert(p == 90 && beyond == 10)
    assert(Tracer.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 35L))) == 25L)
  }

  test("row comparison tolerates summation order, not different values") {
    assert(Compare.sameRows(Seq(Row("a", 0.1 + 0.2)), Seq(Row("a", 0.3)), ordered = true))
    assert(!Compare.sameRows(Seq(Row("a", 0.31)), Seq(Row("a", 0.3)), ordered = true))
    assert(Compare.sameRows(Seq(Row(1), Row(2)), Seq(Row(2), Row(1)), ordered = false))
  }
}
