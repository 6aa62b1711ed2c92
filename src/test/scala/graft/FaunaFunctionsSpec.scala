package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FaunaFunctions._

/** Golden values ported verbatim from the reference's test suite
  * (`/root/reference/tests/test_util.py`) plus the edge cases its
  * implementation implies (`/root/reference/src/animals_etl/utils.py`).
  */
class FaunaFunctionsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  import spark.implicits._

  private val asOf = lit("2026-01-01 00:00:00").cast(TimestampType)

  private def iso(epoch: java.lang.Long): Option[String] = {
    val df = Seq(Option(epoch).map(Long2long)).toDF("e")
    Option(df.select(epochToIso8601Utc(col("e"), asOf)).head().getString(0))
  }

  // test_util.py:4-7
  test("splitFriends golden values") {
    val df = Seq(
      (1, "Dog, Kangaroo, Sea Lions"),
      (2, ""),
      (3, null.asInstanceOf[String]),
      (4, "a, , b")
    ).toDF("id", "s")
    val got = df.select(col("id"), splitFriends(col("s")).as("f")).collect()
      .map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(got(1) == Seq("Dog", "Kangaroo", "Sea Lions"))
    assert(got(2) == Seq())
    assert(got(3) == Seq())
    assert(got(4) == Seq("a", "b"))
  }

  // test_util.py:9-17: all four magnitude bands
  test("epoch unit auto-detect golden values") {
    assert(iso(0L).contains("1970-01-01T00:00:00Z"))
    assert(iso(1577836800L).contains("2020-01-01T00:00:00Z"))
    assert(iso(1577836800000L).contains("2020-01-01T00:00:00Z"))
    assert(iso(1577836800000000L).contains("2020-01-01T00:00:00Z"))
    assert(iso(1577836800000000000L).contains("2020-01-01T00:00:00Z"))
  }

  // tests/test_pipeline.py:46-47: ms epoch with fraction renders 6 digits
  test("fractional seconds render as 6-digit microseconds") {
    assert(iso(1348692957651L).contains("2012-09-26T20:55:57.651000Z"))
  }

  test("invalid epochs are rejected") {
    assert(iso(null).isEmpty)
    assert(iso(-1L).isEmpty)
    assert(iso(-1577836800L).isEmpty)
    // future relative to asOf (utils.py:48)
    assert(iso(1893456000L).isEmpty) // 2030-01-01
    // unrepresentable (year > 9999 seconds-band, utils.py:42-45)
    assert(iso(999999999999L).isEmpty)
  }

  test("ns-scale integer division is exact (no double corruption)") {
    // 2^53 ns-rounding would corrupt this value's microseconds
    assert(iso(1577836800123456789L).contains("2020-01-01T00:00:00.123456Z"))
  }

  // test_util.py:19-24
  test("ISO validation regex accepts/rejects the reference's cases") {
    val cases = Seq(
      ("2020-01-01T00:00:00Z", true),
      ("1999-12-31T23:59:59.123Z", true),
      (null.asInstanceOf[String], true),
      ("2020-01-01T00:00:00+00:00", false),
      ("2020-01-01", false)
    )
    cases.foreach { case (s, expect) =>
      val got = Seq(Option(s)).toDF("z").select(isValidIsoUtc(col("z"))).head().getBoolean(0)
      assert(got == expect, s"validate($s)")
    }
  }

  test("epoch band boundaries match the reference's thresholds") {
    // exactly 10^12 → ms band; one less → seconds band (rejected: year 33658 > asOf)
    assert(iso(1000000000000L).contains("2001-09-09T01:46:40Z"))
    assert(iso(999999999999L).isEmpty)
    // exactly 10^15 → µs band
    assert(iso(1000000000000000L).contains("2001-09-09T01:46:40Z"))
    // exactly 10^18 → ns band
    assert(iso(1000000000000000000L).contains("2001-09-09T01:46:40Z"))
  }
}
