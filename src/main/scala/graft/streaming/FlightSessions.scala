package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** One position fix as consumed by the stateful session operator. */
case class Fix(hex_ident: String, parsed_time: Timestamp)

/** Accumulating per-aircraft state: the open flight leg. */
case class LegState(start: Timestamp, last: Timestamp, nFixes: Long)

/** A closed flight leg (continuous transmission period). */
case class FlightLeg(hex_ident: String, leg_start: Timestamp,
                     leg_end: Timestamp, n_fixes: Long)

/** Custom streaming state via `flatMapGroupsWithState` (SURVEY.md §1.4 /
  * §2.7): detect *flight legs* — an aircraft's continuous transmission
  * period, closed after `gapMinutes` of silence. This is the stateful
  * streaming counterpart of the batch gaps-and-islands sessionization
  * ([[graft.operators.RelationalQueries.qSessions]]): the batch version
  * re-scans history; this one carries one small state record per active
  * aircraft and emits each leg exactly once when it closes.
  *
  * Event-time timeouts + watermark close legs for aircraft that simply
  * stop transmitting (left the coverage area), so state is bounded by
  * the number of aircraft heard within the watermark horizon — not by
  * stream length.
  */
object FlightSessions {

  def legs(fixes: Dataset[Fix], gapMinutes: Int,
           watermark: String = "10 minutes"): Dataset[FlightLeg] = {
    val spark = fixes.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(hex: String, rows: Iterator[Fix],
           state: GroupState[LegState]): Iterator[FlightLeg] = {
      val sorted = rows.toSeq.sortBy(_.parsed_time.getTime)
      var closed = List.empty[FlightLeg]
      if (sorted.isEmpty) {
        // event-time timeout: silence horizon passed, close the leg
        val out = state.getOption.map(s =>
          FlightLeg(hex, s.start, s.last, s.nFixes))
        state.remove()
        return out.iterator
      }
      var cur = state.getOption
      sorted.foreach { f =>
        cur match {
          case Some(s) if f.parsed_time.getTime - s.last.getTime <= gapMs =>
            cur = Some(LegState(s.start, f.parsed_time, s.nFixes + 1))
          case Some(s) =>
            closed ::= FlightLeg(hex, s.start, s.last, s.nFixes)
            cur = Some(LegState(f.parsed_time, f.parsed_time, 1L))
          case None =>
            cur = Some(LegState(f.parsed_time, f.parsed_time, 1L))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last.getTime + gapMs)
      }
      closed.reverseIterator
    }

    fixes
      .withWatermark("parsed_time", watermark)
      .groupByKey(_.hex_ident)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }
}
