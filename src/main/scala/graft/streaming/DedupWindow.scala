package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, ValueState}

/** Engine-side duplicate window via `transformWithState` — the Spark
  * equivalent of the JetStream output stream's `duplicate_window=600s`
  * (reference `/root/reference/src/nats_client.py:99`: server-side
  * msg-id dedup absorbs publish retries).
  *
  * The production stream (`StreamingEnrich.runNats`) keeps no dedup
  * state: its sink drops repeats by `Nats-Msg-Id = uri:cid` in two
  * windows that both span the output stream's duplicate window (see
  * NatsSink). The writer's per-process sent-id window
  * (`graft.sources.SentIds`) skips a redelivery, an in-batch copy or a
  * replayed row before it is published; the server's window stores a
  * repeat that crosses a process restart once, where the reference puts
  * it. This operator is for deployments whose sink has no such window.
  *
  * Time model: EVENT time with explicit per-key timers, not
  * processing-time TTL. Two reasons. (1) Determinism: replaying the
  * same input yields the same kept set — a wall-clock TTL makes the
  * dedup decision depend on when the batch happened to run, which
  * breaks exactly the replay/recovery guarantee the window exists to
  * protect. (2) A processing-time mode schedules perpetual empty
  * maintenance triggers, so `processAllAvailable` never settles — the
  * same landmine as ProcessingTimeTimeout in flatMapGroupsWithState.
  *
  * State is one `ValueState[Long]` + one timer per distinct key inside
  * the window, RocksDB-backed, expired by watermark — bounded by the
  * window horizon, never by stream length, which is what lets it run
  * forever at ingest scale.
  */
object DedupWindow {

  final case class Msg(msg_id: String, payload: String, ts: Timestamp)

  /** First-wins dedup keyed by msg_id; the key expires `window` after
    * the first occurrence's event time (JetStream measures from first
    * receipt the same way). */
  class Processor(window: Duration)
      extends StatefulProcessor[String, Msg, Msg] {
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Msg],
        timerValues: TimerValues): Iterator[Msg] = {
      if (seen.exists()) Iterator.empty // duplicate inside the window
      else {
        // "first" = earliest event time (tie → lowest payload), NOT
        // whichever row the batch iterator happens to order first:
        // Spark's intra-batch row order is partitioning-dependent, and
        // the expiry timer anchors on the winner's ts, so iterator-order
        // first-wins would make the kept set (and the window horizon)
        // vary across replays of identical input.
        val first = rows.reduceLeft { (a, b) =>
          if (b.ts.getTime < a.ts.getTime ||
              (b.ts.getTime == a.ts.getTime && b.payload < a.payload)) b
          else a
        }
        seen.update(first.ts.getTime)
        getHandle.registerTimer(first.ts.getTime + window.toMillis)
        Iterator.single(first)
      }
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Msg] = {
      seen.clear() // window over: the next occurrence of key passes again
      Iterator.empty
    }
  }

  /** msgs need (msg_id, payload, ts). `delay` is the out-of-order
    * tolerance handed to the watermark (timers fire, and state frees,
    * once the watermark passes first_ts + window). Requires the
    * RocksDB state store provider (transformWithState's backing store). */
  def dedup(spark: SparkSession, msgs: Dataset[Msg],
      window: Duration = Duration.ofSeconds(600),
      delay: String = "0 seconds"): Dataset[Msg] = {
    import spark.implicits._
    msgs.withWatermark("ts", delay)
      .as[Msg]
      .groupByKey(_.msg_id)
      .transformWithState(new Processor(window),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
