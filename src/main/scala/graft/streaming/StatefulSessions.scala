package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming sessionization via
  * `KeyValueGroupedDataset.flatMapGroupsWithState` — the stateful-operator
  * tier the built-in windowed aggregations can't express: a session is
  * open-ended (no fixed window), closes only after a 30-minute event-time
  * silence, and must survive across micro-batches.
  *
  * State per user = the open session; events extend or close it; an
  * event-time timeout (watermark passing session end + gap) flushes the
  * final session. Emitted sessions match [[Events.sessions]]' batch
  * formulation on the same data (asserted in StatefulSessionsSpec).
  *
  * 100 TB design: state is one tiny record per ACTIVE user (bounded by
  * concurrent users, not event volume), partitioned by the group key;
  * the watermark bounds state lifetime so the store cannot grow without
  * limit.
  */
object StatefulSessions {

  val GapMinutes = 30
  private val GapUs = GapMinutes.toLong * 60L * 1000000L

  final case class Evt(user_id: Long, ts: Timestamp, value: Double)

  /** `total` is an exact DECIMAL, not a double: the batch twin
    * ([[Events.sessions]]) sums `CAST(value AS DECIMAL(18,6))`, and the
    * streamed output is hash-compared against the same oracle
    * (events_sessions_streamed) — a sequential double fold would drift in
    * the last ulps under a different arrival order. Each value is rounded
    * exactly as Spark's double→DECIMAL(18,6) cast (HALF_UP at scale 6). */
  final case class OpenSession(
      startUs: Long, endUs: Long, n: Long, total: java.math.BigDecimal)

  private def dec6(d: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)

  final case class SessionOut(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double)

  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  private def emit(user: Long, s: OpenSession): SessionOut =
    SessionOut(user, toTs(s.startUs), toTs(s.endUs), s.n, s.total.doubleValue)

  /** The state-transition function: fold this batch's events (event-time
    * order) into the open session; a gap closes it; the survivor stays in
    * state with a timeout at (end + gap). */
  def update(
      user: Long,
      events: Iterator[Evt],
      state: GroupState[OpenSession]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val closed = state.getOption.map(emit(user, _))
      state.remove()
      closed.iterator
    } else {
      val sorted = events.toSeq.sortBy(e => micros(e.ts))
      val closed = ListBuffer.empty[SessionOut]
      var cur = state.getOption
      sorted.foreach { e =>
        val us = micros(e.ts)
        cur match {
          case Some(s) if us - s.endUs > GapUs =>
            closed += emit(user, s)
            cur = Some(OpenSession(us, us, 1, dec6(e.value)))
          case Some(s) =>
            cur = Some(OpenSession(s.startUs, math.max(s.endUs, us),
              s.n + 1, s.total.add(dec6(e.value))))
          case None =>
            cur = Some(OpenSession(us, us, 1, dec6(e.value)))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // flush when the watermark passes the gap after the last event
        state.setTimeoutTimestamp((s.endUs + GapUs) / 1000L + 1L)
      }
      closed.iterator
    }
  }

  /** Streaming sessionization. `events` must carry a watermark on `ts`
    * (EventTimeTimeout requires it). */
  def sessionize(events: Dataset[Evt]): Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val stEnc = Encoders.product[OpenSession]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** The custom-state sessionization run against the REAL events stream
    * and certified against the batch gap-sessionization oracle — X16
    * upgraded from test-pinned to oracle-checked (r8). Watermark delay 0:
    * after the data drains, the watermark stands at the max event time,
    * and the no-data batch fires the event-time timeouts for every
    * session whose (end + gap) the watermark has passed. Only a user's
    * LAST session can still be open at that point; the oracle excludes
    * exactly those (same ms-truncation + strict-inequality arithmetic as
    * [[update]]'s `setTimeoutTimestamp`). */
  def sessionsStreamed(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val out = graft.StateRoot.once(s, "events", dir, "sessions") { out =>
      // shared schema-adaptive source (r10: a hand-pinned nanos schema
      // silently corrupted a micros fixture)
      implicit val evtEnc = Encoders.product[Evt]
      val stream = EventsSource.stream(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", "0 seconds")
        .as[Evt]
      graft.StateRoot.drain(sessionize(stream).toDF(), "append", out)(
        (b, _) => b.write.mode("append").parquet(s"$out/result"))
    }
    s.read.parquet(s"$out/result")
      .orderBy(col("user_id"), col("session_start"))
  }
}
