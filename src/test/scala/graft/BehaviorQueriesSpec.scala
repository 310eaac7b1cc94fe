package graft

import java.sql.{Date, Timestamp}


/** Behavior specs for the round-7 user-behavior analytics operators at
  * sf0.001 (value-level cross-engine gate = DuckDB oracle at sf0.01). */
class BehaviorQueriesSpec extends SparkTestBase {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("scd2_intervals: contiguous per-user intervals, no same-type neighbors, one open interval") {
    val out = SparkEntry.queries("scd2_intervals")(spark, d)
      .select($"user_id", $"event_type", $"valid_from", $"valid_to")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect()
      .groupBy(_._1)
    assert(out.nonEmpty)
    out.foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._3.getTime)
      // exactly the last interval is open
      assert(sorted.dropRight(1).forall(_._4.isDefined), s"user $u")
      assert(sorted.last._4.isEmpty, s"user $u last interval not open")
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          // contiguous: each interval closes where the next opens
          assert(a._4.contains(b._3), s"user $u gap at ${a._4}")
          // compressed: neighbors never share a type
          assert(a._2 != b._2, s"user $u uncompressed run of ${a._2}")
        case _ => ()
      }
    }
  }

  test("funnel_conversion: stage counts are monotone and anchored on true view users") {
    val (nView, nClick, nFull) = SparkEntry.queries("funnel_conversion")(spark, d)
      .as[(Long, Long, Long)].collect().head
    assert(nView >= nClick && nClick >= nFull)
    val trueViewUsers = Tables.events(spark, d)
      .filter($"event_type" === "view")
      .select($"user_id").distinct().count()
    assert(nView == trueViewUsers)
    assert(nFull > 0, "fixture should contain at least one full conversion")
  }

  test("cohort_retention: offset-0 cells hold every user exactly once") {
    val out = SparkEntry.queries("cohort_retention")(spark, d)
      .select($"cohort_day", $"day_offset", $"n_users")
      .as[(Date, Long, Long)].collect().toSeq
    assert(out.forall(_._2 >= 0), "negative day offset")
    // every user is active on their own first day, so the offset-0
    // diagonal partitions the user population
    val diag = out.filter(_._2 == 0L).map(_._3).sum
    val users = Tables.events(spark, d).select($"user_id").distinct().count()
    assert(diag == users, s"offset-0 sum $diag != $users users")
    // retention never exceeds the cohort's size
    val cohortSize = out.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    assert(out.forall { case (c, _, n) => n <= cohortSize(c) })
  }
}
