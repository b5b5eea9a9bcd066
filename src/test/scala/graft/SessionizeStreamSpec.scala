package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SessionizeStream
import graft.streaming.SessionizeStream.{EventIn, SessionOut}

/** Stateful streaming sessionization: sessions close on gap or on the
  * event-time watermark passing; closed sessions emit exactly once. */
class SessionizeStreamSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("gap-separated events become distinct sessions; watermark closes the tail") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventIn]
    val sessions = SessionizeStream.sessionize(input.toDS(), gapMinutes = 30,
      watermark = "10 minutes")
    val query = sessions.writeStream.format("memory")
      .queryName("sessions_out").outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then a 2h gap, then
      // one more event (second session). user 2: single event.
      input.addData(
        EventIn(1L, ts("2024-01-01 10:00:00")),
        EventIn(1L, ts("2024-01-01 10:05:00")),
        EventIn(2L, ts("2024-01-01 10:00:00")))
      query.processAllAvailable()

      input.addData(EventIn(1L, ts("2024-01-01 12:30:00")))
      query.processAllAvailable()
      // first session of user 1 closed by the in-stream gap
      val mid = spark.table("sessions_out").as[SessionOut].collect()
      assert(mid.exists(r => r.user_id == 1L && r.n_events == 2 && r.duration_sec == 300))

      // push the watermark far past everything: remaining open sessions
      // (user1 second, user2) time out and emit
      input.addData(EventIn(99L, ts("2024-01-02 00:00:00")))
      query.processAllAvailable()
      input.addData(EventIn(99L, ts("2024-01-03 00:00:00")))
      query.processAllAvailable()

      val all = spark.table("sessions_out").as[SessionOut].collect()
      val u1 = all.filter(_.user_id == 1L).sortBy(_.session_start_epoch)
      assert(u1.length === 2)
      assert(u1(0).n_events === 2 && u1(0).duration_sec === 300)
      assert(u1(1).n_events === 1 && u1(1).duration_sec === 0)
      val u2 = all.filter(_.user_id == 2L)
      assert(u2.length === 1 && u2.head.n_events === 1)
      // exactly-once: no duplicate session rows
      assert(all.length === all.distinct.length)
    } finally query.stop()
  }
}
