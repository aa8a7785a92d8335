package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** STREAMING funnel — the [[Events.funnel]] state machine maintained per
  * user with `mapGroupsWithState`: state = the first-touch timestamps
  * reached so far; each micro-batch folds its events in (event-time,
  * stage-rank) order through the strict transitions (a view opens the
  * funnel; the first click AT OR AFTER t_view qualifies; the first
  * purchase at or after t_click converts). Every batch emits the user's
  * CURRENT funnel row (update mode); the drained relation keeps each
  * user's latest emission — the final state — so the registered entry
  * (`events_funnel_streamed`) shares the batch funnel's oracle VERBATIM.
  *
  * Equivalence contract: the fold equals the batch min-formulation when
  * deliveries are event-time-ordered ACROSS batches (within a batch the
  * sort handles any order) — the watermark discipline a deployment
  * enforces; a cross-batch late event older than already-consumed state
  * is the documented out-of-contract case (FunnelStreamSpec pins the
  * in-contract cross-batch transitions and the stream-batch equality).
  *
  * 100 TB: state per user is three longs (bounded by users, not events),
  * partitioned by the group key; update-mode emission writes one row per
  * user per touched batch. */
object FunnelStream {

  final case class FEvt(user_id: Long, event_type: String, ts: Timestamp)

  /** First-touch micros reached so far; -1 = stage not reached. */
  final case class FState(tv: Long, tc: Long, tp: Long)

  final case class FOut(
      user_id: Long,
      t_view: Option[Timestamp],
      t_click: Option[Timestamp],
      t_purchase: Option[Timestamp],
      stage: Long)

  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  private def toTs(us: Long): Option[Timestamp] =
    if (us < 0) None
    else {
      val t = new Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      Some(t)
    }

  /** Same-instant events fold in funnel order (view → click → purchase),
    * matching the batch `>=` boundary. */
  private def stageRank(t: String): Int = t match {
    case "view" => 0
    case "click" => 1
    case "purchase" => 2
    case _ => 3
  }

  private def emit(user: Long, s: FState): FOut =
    FOut(user, toTs(s.tv), toTs(s.tc), toTs(s.tp),
      Seq(s.tv, s.tc, s.tp).count(_ >= 0).toLong)

  /** The strict state transitions over one batch's events. */
  def update(
      user: Long,
      events: Iterator[FEvt],
      state: GroupState[FState]): FOut = {
    var s = state.getOption.getOrElse(FState(-1L, -1L, -1L))
    events.toSeq
      .sortBy(e => (micros(e.ts), stageRank(e.event_type)))
      .foreach { e =>
        val us = micros(e.ts)
        e.event_type match {
          case "view" if s.tv < 0 => s = s.copy(tv = us)
          case "click" if s.tv >= 0 && s.tc < 0 && us >= s.tv =>
            s = s.copy(tc = us)
          case "purchase" if s.tc >= 0 && s.tp < 0 && us >= s.tc =>
            s = s.copy(tp = us)
          case _ => ()
        }
      }
    state.update(s)
    emit(user, s)
  }

  /** The funnel state machine over any FEvt stream — unit-test hook. */
  def funnelStream(events: Dataset[FEvt]): Dataset[FOut] = {
    implicit val outEnc = Encoders.product[FOut]
    implicit val stEnc = Encoders.product[FState]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState[FState, FOut](GroupStateTimeout.NoTimeout())(update)
  }

  /** The drained streamed funnel: per user, the LATEST update-mode
    * emission (= final state; latest-per-key is what an update-mode
    * keyed sink retains). Shares events_funnel's oracle verbatim. */
  def funnelStreamed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val out = graft.StateRoot.once(s, "events", dir, "funnel") { out =>
      implicit val evtEnc = Encoders.product[FEvt]
      val stream = EventsSource.stream(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .as[FEvt]
      graft.StateRoot.drain(funnelStream(stream).toDF(), "update", out) { (b, id) =>
        b.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(s"$out/result")
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("batch_id").desc)
    s.read.parquet(s"$out/result")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("t_view"), col("t_click"),
        col("t_purchase"), col("stage"))
      .orderBy(col("user_id"))
  }
}
