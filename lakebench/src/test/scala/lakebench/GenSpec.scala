package lakebench

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The generators are the only source of workload inputs: the same
  * seed must give byte-identical inputs, another seed different ones. */
class GenSpec extends AnyFunSuite {

  private def digest(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  private def ingest(seed: Long): String =
    digest(Gen.evDays(seed, 3, 400).map(Gen.csvBytes).reduce(_ ++ _))
  private def gold(seed: Long): String =
    digest(Gen.rowsBytes(Gen.goldRows(Gen.rng(seed, 1), 100000, 500, 10, 100, 20)))
  private def tpch(seed: Long): String = {
    val t = Gen.tpch(seed, 50)
    digest(Gen.rowsBytes(t.lineitem ++ t.orders ++ t.customer ++ t.events))
  }
  private def docs(seed: Long): String = digest(Gen.rowsBytes(Gen.docs(seed, 300).rows))
  private def emb(seed: Long): String = digest(Gen.rowsBytes(Gen.embeddings(seed, 300, 8, 4)))
  private def dml(seed: Long): String = {
    val p = LakeDml.plan(seed, "unused", 500, 10, LakeDml.pattern)
    digest((Gen.rowsBytes(p.initial).toSeq ++ p.stmts.mkString("\n").getBytes("UTF-8")).toArray)
  }
  private def reads(seed: Long): String =
    digest(LakeReads.mixOf(seed, 40, 1000).mkString("\n").getBytes("UTF-8"))

  private val generators: Seq[(String, Long => String)] = Seq(
    "ingest CSV drops" -> ingest, "gold rows" -> gold, "TPC-H tables" -> tpch,
    "documents" -> docs, "embeddings" -> emb, "DML statement stream" -> dml,
    "read query mix" -> reads)

  generators.foreach { case (what, gen) =>
    test(s"$what: same seed gives identical bytes, another seed different bytes") {
      assert(gen(7) == gen(7))
      assert(gen(7) != gen(8))
    }
  }

  test("the ingest drops carry the reference's quirk mix") {
    val rows = Gen.evDays(3, 4, 2000).flatten
    val lines = rows.map(_.csvLine)
    def share(p: String => Boolean) = lines.count(p).toDouble / lines.size
    assert(math.abs(share(_.split(",")(10) == "NA") - 0.31) < 0.04)
    assert(share(l => l.split(",")(3).startsWith("00")) > 0.3)
    assert(rows.exists(_.sessionId.isEmpty))
    assert(rows.exists(r => !r.ended.isAfter(r.created)))
    assert(rows.exists(_.facilityType == 5))
  }

  test("later drops resend earlier sessions, never twice in one drop") {
    val drops = Gen.evDays(5, 3, 1000)
    val seen = drops.head.flatMap(_.sessionId).toSet
    val day2 = drops(1).flatMap(_.sessionId)
    assert(day2.distinct.size == day2.size)
    val resent = day2.count(seen)
    assert(resent >= 40 && resent <= 60, s"resent $resent of ${day2.size}")
  }

  test("planted exact copies are counted exactly") {
    val d = Gen.docs(11, 500)
    val copies = d.rows.groupBy(_.getString(2)).values.map(_.size - 1).sum
    assert(copies == d.exactCopies)
    assert(d.nearPairs.nonEmpty)
  }
}
