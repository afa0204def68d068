package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.GroupStateTimeout

class StatefulSessionsSpec extends SparkSpec {
  import StatefulSessions._

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  test("update function closes a session when the gap is exceeded") {
    // pure-function check of the state transition (no stream needed)
    val state = new TestGroupState[SessionState]
    val out = updateSessions(30 * 60000L)(7L,
      Iterator(Event(7L, ts(0), 1.0), Event(7L, ts(10), 2.0), Event(7L, ts(60), 5.0)),
      state).toList
    assert(out == List(SessionOut(7L, ts(0), ts(10), 2, 3.0)))
    assert(state.updated.exists(s => s.nEvents == 1 && s.sumValue == 5.0))
  }

  test("streaming end-to-end: session emitted after gap, state times out") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = sessionizeStream(input.toDS(), gapMinutes = 30, watermark = "10 minutes")
    val query = sessions.writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    input.addData(Event(1L, ts(0), 1.0), Event(1L, ts(10), 2.0))
    query.processAllAvailable()
    input.addData(Event(1L, ts(120), 9.0)) // 110-min gap closes session 1
    query.processAllAvailable()
    val out = spark.table("sessions_test").as[SessionOut].collect().toSet
    query.stop()
    assert(out.contains(SessionOut(1L, ts(0), ts(10), 2, 3.0)))
  }
}

/** Minimal GroupState stub for unit-testing the transition function. */
final class TestGroupState[S] extends org.apache.spark.sql.streaming.GroupState[S] {
  var updated: Option[S] = None
  private var removed = false
  override def exists: Boolean = updated.isDefined
  override def get: S = updated.get
  override def getOption: Option[S] = updated
  override def update(newState: S): Unit = updated = Some(newState)
  override def remove(): Unit = { updated = None; removed = true }
  override def hasTimedOut: Boolean = false
  override def setTimeoutDuration(durationMs: Long): Unit = ()
  override def setTimeoutDuration(duration: String): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}
