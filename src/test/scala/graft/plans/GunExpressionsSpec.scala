package graft.plans

import graft.SparkSuite
import graft.core.{CanonicalJson, GunCell, GunValue}
import org.apache.spark.sql.functions.expr
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

class GunExpressionsSpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 0.1 s (the SQL
  // registration); the limit is room for a first suite that starts the
  // session (about 10 s) and for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private val cells = Seq(
    GunCell("s", "a", GunValue.string("a<b>&\"x\\y"), 1),
    GunCell("s", "b", GunValue.number("42.50"), 1),
    GunCell("s", "c", GunValue.bool(false), 1),
    GunCell("s", "d", GunValue.relation("S2"), 1),
    GunCell("s", "e", GunValue.nullValue, 1))

  GraftExtensions.register(spark)

  test("native expression matches CanonicalJson byte-for-byte") {
    val out = cells.toDS().toDF()
      .withColumn("cj", expr("gun_canonical_json(value)"))
      .select("field", "cj").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = cells.map(c => c.field -> CanonicalJson.encode(c.value)).toMap
    assert(out == expected)
    assert(out("a") == "\"a\\u003cb\\u003e\\u0026\\\"x\\\\y\"")
    assert(out("b") == "\"42.50\"") // quoted like Go json.Marshal(ValueNumber), raw text preserved
  }

  test("registered as SQL function gun_canonical_json") {
    cells.toDS().toDF().createOrReplaceTempView("gcells")
    val rows = spark.sql(
      "SELECT field, gun_canonical_json(value) AS cj FROM gcells ORDER BY field")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("d") == "{\"#\":\"S2\"}")
    assert(rows("e") == "null")
  }

  test("mergeSnapshot orders a state tie by gun_canonical_json") {
    // each control char's Go escape (`\u00XX`, or `\n` `\r` `\t`) starts
    // with a backslash (0x5c), above 'A' (0x41) and below 'a' (0x61)
    val ties = (0 until 0x20).flatMap { i =>
      Seq(GunCell(s"s$i", "f", GunValue.string(i.toChar.toString), 1),
        GunCell(s"s$i", "f", GunValue.string("A"), 1), GunCell(s"s$i", "g", GunValue.string("a"), 1),
        GunCell(s"s$i", "g", GunValue.string(i.toChar.toString), 1))
    }
    val winners = graft.operators.HamMerge.mergeSnapshot(ties.toDS().toDF()).as[GunCell].collect()
      .map(c => (c.soul, c.field) -> c.value.str.get).toMap
    (0 until 0x20).foreach { i =>
      // a boolean assert: a rendered control char would break the XML report
      val ordered = winners((s"s$i", "f")) == i.toChar.toString && winners((s"s$i", "g")) == "a"
      assert(ordered, f"control char 0x$i%02x")
    }
  }
}
