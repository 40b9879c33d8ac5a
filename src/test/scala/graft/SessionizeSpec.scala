package graft

import org.apache.spark.sql.functions._
import graft.operators.Sessionize

/** Gap-based sessionization semantics incl. the exact-gap boundary. */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ev(times: String*) =
    times.zipWithIndex.map { case (t, i) => ("c1", i, t) }
      .toDF("u", "i", "t").withColumn("ts", to_timestamp($"t"))

  test("events within the gap merge; a gap strictly larger splits") {
    val df = ev(
      "2025-01-01 10:00:00", "2025-01-01 10:10:00", "2025-01-01 10:35:00", // one session
      "2025-01-01 12:00:00")                                               // new session
    val got = Sessionize.sessions(df, $"u", $"ts", "30 minutes")
      .orderBy("session_start")
      .select($"n_events").as[Long].collect().toSeq
    assert(got == Seq(3L, 1L))
  }

  test("exact-gap boundary: a successor at EXACTLY the gap still merges (session_window end is last+gap, half-open)") {
    // Spark's session window is [start, last+gap); an event AT last+gap
    // starts exactly at the previous window's end — pin whichever way the
    // engine resolves it so the DuckDB oracle (<= gap merges) stays aligned
    val df = ev("2025-01-01 10:00:00", "2025-01-01 10:30:00")
    val got = Sessionize.sessions(df, $"u", $"ts", "30 minutes")
      .select($"n_events").as[Long].collect().toSeq.sorted
    assert(got == Seq(2L),
      s"exact-gap successor must merge to match the oracle's <= semantics, got $got sessions")
  }

  test("sessions never span entities") {
    val df = Seq(("a", "2025-01-01 10:00:00"), ("b", "2025-01-01 10:05:00"))
      .toDF("u", "t").withColumn("ts", to_timestamp($"t"))
    assert(Sessionize.sessions(df, $"u", $"ts", "30 minutes").count() == 2)
  }
}
