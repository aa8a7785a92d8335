package graft

import org.apache.spark.sql.SparkSession

/** Session-width tuning for bounded tiny-relation LOOPS (iterative label
  * propagation, Lloyd rounds): their per-round exchanges move kilobytes,
  * so running them at the session's corpus-sized shuffle width is pure
  * task-scheduling overhead. [[withNarrowShuffle]] pins a narrow width for
  * the loop's own planning+execution and restores the session width after
  * — the static-plan equivalent of AQE partition coalescing (which the
  * bench session disables, and which would pay a per-stage re-plan barrier
  * in exactly these loops; see Bench.scala's AQE A/B history).
  *
  * Call sites gate on a MEASURED relation size (the same size-gate
  * discipline as the broadcast gates in Dedup/Corpus): corpus-scale loop
  * state keeps the session width.
  *
  * INVARIANT (r11 ADVICE): the width is a session-global conf, so (1)
  * every action the narrow width should govern must RUN inside the block
  * — a DataFrame built here but executed after the block plans at
  * whatever width is then current — and (2) the block must not race a
  * concurrent query on the same session. Both hold for the only intended
  * call sites, self-contained single-threaded loops that materialize
  * per-round state internally (kmeans, label propagation). On a normal
  * (non-throwing) exit the block fails loudly if the conf was changed
  * underneath it, rather than silently restoring a stale width — a
  * best-effort tripwire for PARTIAL/overlapping misuse, not a full
  * nesting detector (a fully-nested inner block restores the outer width
  * before the outer check reads it; r12 ADVICE). When `body` itself
  * throws, the width is restored but no check runs — the width error
  * must never replace the root-cause exception.
  */
object Tuning {

  def withNarrowShuffle[T](s: SparkSession, width: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", width.toString)
    var failed = false
    try body
    catch { case e: Throwable => failed = true; throw e }
    finally {
      val now = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", prev)
      if (!failed) require(now == width.toString,
        s"withNarrowShuffle: width changed underneath the block " +
          s"(expected $width, found $now) — overlapping or concurrent use")
    }
  }
}
