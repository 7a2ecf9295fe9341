package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class JoinOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("as-of join: latest right row at or before each left row, per key") {
    val clicks = Seq(
      (1L, 1L, ts("2024-01-01 10:05:00")), // before any purchase → null
      (2L, 1L, ts("2024-01-01 10:15:00")), // after p@10:10
      (3L, 1L, ts("2024-01-01 10:30:00")), // after p@10:20
      (4L, 2L, ts("2024-01-01 10:30:00")), // other user: own purchases only
      (5L, 1L, ts("2024-01-01 10:20:00"))  // exactly at p@10:20 → matches it
    ).toDF("event_id", "user_id", "ts")
    val purchases = Seq(
      (1L, ts("2024-01-01 10:10:00"), 10.0),
      (1L, ts("2024-01-01 10:20:00"), 20.0),
      (2L, ts("2024-01-01 10:00:00"), 99.0)
    ).toDF("user_id", "p_ts", "p_value")

    val out = AsOfJoin.asOf(clicks, purchases, "user_id", "ts", "p_ts", Seq("p_ts", "p_value"))
      .collect().map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(out(1L).isEmpty)
    assert(out(2L).contains(10.0))
    assert(out(3L).contains(20.0))
    assert(out(4L).contains(99.0))
    assert(out(5L).contains(20.0)) // "at or before" includes the same instant
  }

  test("asOfWithin: stale matches null out, boundary-exact at maxAge, fresh pass through") {
    val facts = Seq(
      (1L, 1L, ts("2024-01-01 12:00:00")), // latest click 11:00 → fresh at 1h cap... see below
      (2L, 1L, ts("2024-01-01 14:00:01")), // latest click 13:00:00 → 3601 s: ONE second too stale
      (3L, 1L, ts("2024-01-01 14:00:00")), // exactly maxAge after 13:00 → still fresh (inclusive)
      (4L, 2L, ts("2024-01-01 10:00:00"))  // user 2 has no clicks → null (left outer)
    ).toDF("fact_id", "user_id", "ts")
    val clicks = Seq(
      (1L, ts("2024-01-01 11:00:00"), 100L),
      (1L, ts("2024-01-01 13:00:00"), 200L)
    ).toDF("user_id", "click_ts", "click_id")
    val out = AsOfJoin.asOfWithin(facts, clicks, "user_id", "ts", "click_ts",
      Seq("click_id"), maxAgeSeconds = 3600L)
      .collect().map(r => r.getLong(0) ->
        Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(out(1L).contains(100L)) // 11:00 click, 12:00 fact: exactly at the cap → kept
    assert(out(2L).isEmpty)        // latest is 3601 s old: nulled, NOT the 11:00 one
    assert(out(3L).contains(200L)) // inclusive boundary
    assert(out(4L).isEmpty)
  }

  test("as-of join carries whole right rows, not mixed columns") {
    val left = Seq((1L, 9L, ts("2024-01-01 12:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (9L, ts("2024-01-01 10:00:00"), 1.0),
      (9L, ts("2024-01-01 11:00:00"), 2.0)).toDF("user_id", "p_ts", "p_value")
    val r = AsOfJoin.asOf(left, right, "user_id", "ts", "p_ts", Seq("p_ts", "p_value")).collect().head
    assert(r.getAs[java.sql.Timestamp]("p_ts") == ts("2024-01-01 11:00:00"))
    assert(r.getAs[Double]("p_value") == 2.0)
  }

  test("as-of join: NULL payload in the matched row stays NULL (no chimera rows)") {
    val left = Seq((1L, 9L, ts("2024-01-01 12:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (9L, ts("2024-01-01 10:00:00"), Some(1.0)),
      (9L, ts("2024-01-01 11:00:00"), None) // most recent row has NULL value
    ).toDF("user_id", "p_ts", "p_value")
    val r = AsOfJoin.asOf(left, right, "user_id", "ts", "p_ts", Seq("p_ts", "p_value")).collect().head
    assert(r.getAs[java.sql.Timestamp]("p_ts") == ts("2024-01-01 11:00:00"))
    assert(r.isNullAt(r.fieldIndex("p_value"))) // NOT 1.0 carried from the older row
  }

  test("as-of join: NULL keys and NULL right timestamps never match (SQL semantics)") {
    val left = Seq(
      (1L, Some(9L), ts("2024-01-01 12:00:00")),
      (2L, None, ts("2024-01-01 12:00:00")) // NULL key: left-outer null match
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (Some(9L), Some(ts("2024-01-01 10:00:00")), 1.0),
      (None, Some(ts("2024-01-01 11:00:00")), 666.0),   // NULL key must never carry
      (Some(9L), None, 777.0)                            // NULL ts must never carry
    ).toDF("user_id", "p_ts", "p_value")
    val out = AsOfJoin.asOf(left, right, "user_id", "ts", "p_ts", Seq("p_ts", "p_value"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("p_value"))) None else Some(r.getAs[Double]("p_value")))).toMap
    assert(out(1L).contains(1.0)) // not 777 (null ts sorts first) nor 666
    assert(out(2L).isEmpty)       // null-keyed left row gets no match
  }

  test("banded range join: integral points vs double intervals band identically on negatives") {
    import spark.implicits._
    // truncation-toward-zero on the double path would put -3 in band 0
    // while the integral path floors it into band -1 → dropped match
    val points = Seq((1L, -3L), (2L, -10L), (3L, 4L)).toDF("pid", "x")
    val intervals = Seq((100L, -5.0, -1.0), (200L, -12.0, -8.0), (300L, 3.0, 6.0))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.banded(points, intervals, "x", "lo", "hi", bandWidth = 7L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L), (2L, 200L), (3L, 300L)))
  }

  test("as-of join rejects reserved internal column names") {
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "x")).toDF("user_id", "ts", "_t")
    val right = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("user_id", "p_ts")
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(left, right, "user_id", "ts", "p_ts", Seq("p_ts"))
    }
  }

  test("banded range join equals the naive broadcast form, boundaries exact") {
    val points = Seq.tabulate(200)(i => (i.toLong, i * 0.5)).toDF("pid", "x")
    val intervals = Seq(
      (1L, 0.0, 10.0),    // aligned-ish
      (2L, 9.5, 9.6),     // tiny, inside one band
      (3L, 3.0, 77.0),    // spans many bands
      (4L, 99.5, 100.0),  // hi beyond all points
      (5L, 10.0, 10.0)    // empty interval (lo == hi, exclusive hi)
    ).toDF("iid", "lo", "hi")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = canon(RangeJoin.naive(points, intervals, "x", "lo", "hi"))
    val banded = canon(RangeJoin.banded(points, intervals, "x", "lo", "hi", bandWidth = 7L))
    assert(banded == naive)
    assert(naive.nonEmpty)
    assert(!naive.exists(_._2 == 5L)) // empty interval matches nothing
    assert(naive.exists { case (p, i) => i == 1L && p == 0L }) // x == lo included
    assert(!naive.exists { case (p, i) => i == 1L && p == 20L }) // x == hi excluded
  }

  test("banded range join is exact for longs beyond 2^53 and negatives") {
    // doubles can't represent these longs exactly — integer floor-div
    // banding must still match the naive predicate join
    val big = (1L << 53) + 1L
    val points = Seq(
      (1L, big),            // above double resolution
      (2L, big + 4L),
      (3L, -15L),           // negative: floor(-15/10) = -2, trunc would say -1
      (4L, -5L),
      (5L, 0L)
    ).toDF("pid", "x")
    val intervals = Seq(
      (10L, big - 2L, big + 3L),  // catches pid 1, not 2
      (11L, -20L, -10L),          // catches pid 3
      (12L, -6L, 1L)              // catches pids 4 and 5
    ).toDF("iid", "lo", "hi")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = canon(RangeJoin.naive(points, intervals, "x", "lo", "hi"))
    val banded = canon(RangeJoin.banded(points, intervals, "x", "lo", "hi", bandWidth = 10L))
    assert(banded == naive)
    assert(naive == Set((1L, 10L), (3L, 11L), (4L, 12L), (5L, 12L)))
  }

  test("CMC codec: round trip and age derivation") {
    import graft.functions.DhsDates._
    val df = Seq(
      (ts("1900-01-15 00:00:00")), // CMC 1
      (ts("2017-06-01 00:00:00")),
      (ts("2026-01-31 00:00:00"))  // CMC 1513
    ).toDF("d")
    val rows = df.select(
      dateToCmc(col("d")).as("cmc"),
      cmcYear(dateToCmc(col("d"))).as("y"),
      cmcMonth(dateToCmc(col("d"))).as("m"),
      ageAtCmc(dateToCmc(col("d")), lit(1513)).as("age")).collect()
    assert(rows(0).getInt(0) == 1 && rows(0).getInt(1) == 1900 && rows(0).getInt(2) == 1)
    assert(rows(1).getInt(0) == (2017 - 1900) * 12 + 6)
    assert(rows(1).getInt(1) == 2017 && rows(1).getInt(2) == 6)
    assert(rows(2).getInt(0) == 1513 && rows(2).getInt(3) == 0)
    assert(rows(1).getInt(3) == (1513 - ((2017 - 1900) * 12 + 6)) / 12)
    // cmcToDate: the first day of the CMC month (cmc = months since
    // January 1900, doc/Data_Format.md); inverse of dateToCmc on that day
    val dates = Seq(1, 12, 13, 1213, 1513).toDF("cmc")
      .select(col("cmc"), cmcToDate(col("cmc")).as("d"),
        dateToCmc(cmcToDate(col("cmc"))).as("back")).collect()
      .map(r => r.getInt(0) -> (r.getDate(1).toString, r.getInt(2))).toMap
    assert(dates == Map(1 -> ("1900-01-01", 1), 12 -> ("1900-12-01", 12),
      13 -> ("1901-01-01", 13), 1213 -> ("2001-01-01", 1213), 1513 -> ("2026-01-01", 1513)))
  }
}
